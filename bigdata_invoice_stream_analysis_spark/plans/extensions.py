"""North-star extension queries (BASELINE.json): text analysis, dedup,
similarity search, multimodal — each registered with a DuckDB oracle
that reproduces the result bit-for-bit (all hash/distance math is exact
integer arithmetic; see functions/text.py and operators/similarity.py).

Planted-structure convention: the synthetic documents/embeddings tables
contain no natural duplicates, so dedup queries run over a
deterministically AUGMENTED corpus (original rows + derived near/exact
duplicates), mirroring the "deterministic dirt" pattern of
plans/queries.py. Both engines construct the augmentation from the same
arithmetic:
  * near-dup text mutants: doc_id%10==0 → drop every 7th token,
    new id = doc_id + 1_000_000;
  * exact-dup texts: doc_id%13==0 → whitespace-doubled copy (same
    token-normalized fingerprint), new id = doc_id + 2_000_000;
  * near-dup vectors: vec_id%10==0 → per-element floor(q·101/100) on
    the 1e-4 quantized grid (cosine ≈ 0.99999996 to the original),
    new id = vec_id + 1_000_000.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions import text as TX
from bigdata_invoice_stream_analysis_spark.operators import dedup as DD
from bigdata_invoice_stream_analysis_spark.operators import multimodal as MM
from bigdata_invoice_stream_analysis_spark.operators import sampling as SAMPLING
from bigdata_invoice_stream_analysis_spark.operators import similarity as SIM
from bigdata_invoice_stream_analysis_spark.plans.queries import query, r6
from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Augmented corpora (Spark + DuckDB twins)
# ---------------------------------------------------------------------------


def docs_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + token-dropped mutants of every 10th doc."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    mutant = F.concat_ws(
        " ", F.filter(toks, lambda x, i: (i + 1) % 7 != 0)
    )
    m = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), mutant.alias("text"))
    )
    return d.unionAll(m)


DOCS_NEARDUP_CTE = """
docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         array_to_string(list_filter(string_split(text, ' '), (x, i) -> i % 7 != 0), ' ')
  FROM documents WHERE doc_id % 10 = 0
)
"""


def docs_exactdup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + whitespace-doubled copies of every 13th doc (same
    token-normalized content, different raw bytes)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    c = (
        d.filter(F.col("doc_id") % 13 == 0)
        .select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.regexp_replace(F.col("text"), " ", "  ").alias("text"),
        )
    )
    return d.unionAll(c)


DOCS_EXACTDUP_CTE = """
docs_aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, replace(text, ' ', '  ')
  FROM documents WHERE doc_id % 13 = 0
)
"""


def vecs_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized embeddings + perturbed copies of every 10th vector.
    Output columns: vec_id, qv (array<long> on the 1e-4 grid)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", SIM.quantize(F.col("embedding")).alias("qv")
    )
    pert = F.transform(
        F.col("qv"), lambda x: F.floor(x * 101 / F.lit(100.0)).cast("long")
    )
    m = (
        e.filter(F.col("vec_id") % 10 == 0)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), pert.alias("qv"))
    )
    return e.unionAll(m)


VECS_NEARDUP_CTE = """
vecs_aug AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)),
                        x -> CAST(floor((x * 101) / 100.0) AS BIGINT))
  FROM embeddings WHERE vec_id % 10 = 0
)
"""

# Shared DuckDB snippets over a (doc_id, text) relation `docs_aug`:
_SQL_TOKS = TX.SQL_TOKENIZE.format(col="text")
_SQL_SHINGLE_HASHES = TX.sql_shingle_hashes("text", n=3)

SHINGLES_CTE = f"""
sh AS (
  SELECT doc_id, {_SQL_SHINGLE_HASHES} AS s FROM docs_aug
)
"""

_SQL_INT_DOT = (
    "CAST(list_sum(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i])) AS BIGINT)"
)


def _sql_quant_cosine(a: str, b: str) -> str:
    dot = _SQL_INT_DOT.format(a=a, b=b)
    na = _SQL_INT_DOT.format(a=a, b=a)
    nb = _SQL_INT_DOT.format(a=b, b=b)
    return f"CAST({dot} AS DOUBLE) / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

def _sql_quality_select() -> str:
    q = TX.sql_quality_features("text")
    fp = TX.sql_fingerprint("text")
    return (
        f"SELECT doc_id, {q['n_chars']} AS n_chars, {q['n_tokens']} AS n_tokens,\n"
        f" {q['mean_token_len']} AS mean_token_len,\n"
        f" {q['stopword_ratio']} AS stopword_ratio,\n"
        f" {q['alnum_ratio']} AS alnum_ratio,\n"
        f" {q['digit_ratio']} AS digit_ratio,\n"
        f" {fp} AS fingerprint\n"
        f"FROM documents"
    )


@query("text_quality", oracle=_sql_quality_select())
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring + content fingerprint per document — pure
    per-row expressions, zero shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["mean_token_len"].alias("mean_token_len"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        feats["alnum_ratio"].alias("alnum_ratio"),
        feats["digit_ratio"].alias("digit_ratio"),
        TX.fingerprint(F.col("text")).alias("fingerprint"),
    )


def _sql_langid() -> str:
    pred, hits = TX.sql_detect_language("text")
    hit_cols = ",\n ".join(
        f"CAST({expr} AS BIGINT) AS hits_{lang}" for lang, expr in sorted(hits.items())
    )
    return (
        f"SELECT doc_id, {pred} AS pred_lang,\n {hit_cols}\nFROM documents"
    )


@query("language_id", oracle=_sql_langid())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via character-trigram profile scoring (n-gram
    heuristic). The synthetic corpus shares one vocabulary across its
    lang labels, so this measures the operator, not label recovery."""
    d = load_table(spark, sf_dir, "documents")
    scores = TX.lang_scores(F.col("text"))
    return d.select(
        "doc_id",
        TX.detect_language(F.col("text")).alias("pred_lang"),
        *[
            scores[lang].cast("long").alias(f"hits_{lang}")
            for lang in sorted(TX.LANG_PROFILES)
        ],
    )


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@query(
    "exact_dedup_groups",
    oracle=f"""
WITH {DOCS_EXACTDUP_CTE},
fp AS (SELECT doc_id, {TX.sql_fingerprint("text")} AS fp FROM docs_aug)
SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_dups
FROM fp GROUP BY fp HAVING COUNT(*) > 1
""",
)
def q_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by token-normalized content hash: the planted
    whitespace-variant copies collapse onto their originals. One
    hash-agg shuffle — the minimal exact-dedup plan at any scale."""
    return DD.exact_dup_groups(docs_exactdup(spark, sf_dir), "doc_id", "text")


# Hot-shingle document-frequency cap for the graded Jaccard query: a
# shingle occurring in more than this many documents is dropped from the
# inverted index (classic prefix-filtering degenerate) — one stopword-ish
# shingle would otherwise contribute df² candidate pairs. Intersections
# then count only informative shingles while set sizes stay exact, so
# reported jaccard is a (tight, one-sided) lower bound for the few pairs
# that shared a hot shingle and exact for everything else.
JACCARD_MAX_DF = 50


@query(
    "ngram_jaccard_dedup",
    oracle=f"""
WITH {DOCS_NEARDUP_CTE}, {SHINGLES_CTE},
inv AS (SELECT doc_id, unnest(s) AS h FROM sh),
hot AS (SELECT h FROM inv GROUP BY h HAVING COUNT(*) > {JACCARD_MAX_DF}),
inv2 AS (SELECT doc_id, h FROM inv WHERE h NOT IN (SELECT h FROM hot)),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
  FROM inv2 a JOIN inv2 b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
sizes AS (SELECT doc_id, len(s) AS n_sh FROM sh)
SELECT id_a, id_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.2
""",
)
def q_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs (threshold 0.2) via the
    inverted-index self-join WITH the hot-shingle cap active
    (max_df={JACCARD_MAX_DF}) — the form that stays linear on real text:
    candidate pairs per shingle are bounded by max_df², so one
    high-frequency shingle can no longer explode the join. The oracle
    mirrors the same capped inverted index (its CTE chain is the
    relational twin of the Spark plan)."""
    return DD.jaccard_pairs(
        docs_neardup(spark, sf_dir), "doc_id", "text", n=3,
        threshold=0.2, max_df=JACCARD_MAX_DF,
    )


def _sql_minhash_lsh() -> str:
    # Per-perm min over permuted shingle hashes; band keys; candidate
    # pairs; exact-Jaccard verify — the literal twin of
    # operators/dedup.minhash_lsh_pairs.
    sig_cols = ",\n    ".join(
        f"list_min(list_transform(s, h -> ({a} * h + {b}) % {TX.HASH_P})) AS m{i}"
        for i, (a, b) in enumerate(zip(DD.MINHASH_A, DD.MINHASH_B))
    )
    band_elems = ", ".join(
        "concat_ws(':', '{b}', m{r0}, m{r1})".format(
            b=b, r0=b * DD.ROWS_PER_BAND, r1=b * DD.ROWS_PER_BAND + 1
        )
        for b in range(DD.N_BANDS)
    )
    return f"""
WITH {DOCS_NEARDUP_CTE}, {SHINGLES_CTE},
sig AS (SELECT doc_id, s, {sig_cols} FROM sh),
bk AS (SELECT doc_id, unnest([{band_elems}]) AS bk FROM sig),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bk a JOIN bk b ON a.bk = b.bk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         / len(list_distinct(list_concat(sa.s, sb.s))) AS jaccard
FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.2
"""


@query("minhash_lsh_dedup", oracle=_sql_minhash_lsh())
def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(16 bands × 2 rows) near-dup pairs with
    exact-Jaccard verification — the scalable dedup path: candidates
    are generated per band bucket, never all-pairs."""
    return DD.minhash_lsh_pairs(
        docs_neardup(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2
    )


@query("minhash_lsh_dedup_arrow", oracle=_sql_minhash_lsh())
def q_minhash_lsh_dedup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow/numpy twin of minhash_lsh_dedup: signatures computed by
    the vectorized pandas UDF (one ``(A·h + B) mod p`` broadcast + row
    min per doc) instead of 32 column-expression permutations. Same
    oracle — the integer math is bit-identical, so this gate catches any
    drift between the two signature paths (the Arrow one is the pattern
    used when per-row payloads outgrow expression trees)."""
    return DD.minhash_lsh_pairs(
        docs_neardup(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2,
        use_arrow=True,
    )


_SQL_TOKEN_HASHES = (
    "list_transform(" + _SQL_TOKS + ", s -> " + TX.SQL_POLY_HASH.format(t="s") + ")"
)

_SQL_SIMHASH = f"""
CAST(list_sum(list_transform(generate_series(0, {DD.SIMHASH_BITS - 1}), b ->
  CASE WHEN list_sum(list_transform({_SQL_TOKEN_HASHES},
      h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
  THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
"""


@query(
    "simhash_fingerprints",
    oracle=f"SELECT doc_id, {_SQL_SIMHASH} AS simhash FROM documents",
)
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document (unigram token hashes) — the per-row
    sketch behind hamming-distance dedup."""
    return DD.simhash_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "simhash_dedup_pairs",
    oracle=f"""
WITH {DOCS_NEARDUP_CTE},
sim AS (SELECT doc_id, {_SQL_SIMHASH.replace("documents", "docs_aug")} AS sh
        FROM docs_aug)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 1
""",
)
def q_simhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 1) via 4×8-bit block candidate
    generation (pigeonhole-lossless ≤ 3). Oracle brute-forces all
    pairs; the Spark plan shuffles only same-block candidates."""
    return DD.simhash_pairs(
        docs_neardup(spark, sf_dir), "doc_id", "text", max_hamming=1
    ).select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_AB = _sql_quant_cosine("a.qv", "b.qv")


@query(
    "ann_cosine_topk",
    oracle=f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE_AB} AS cosine
  FROM qv a JOIN qv b ON b.vec_id != a.vec_id
  WHERE a.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
""",
)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 20 — the
    exact ANN baseline (broadcast queries × corpus scan)."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.knn_topk(e.filter(F.col("vec_id") < 20), e, k=5).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


@query(
    "ann_ivf_topk",
    oracle=f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
cents AS (SELECT vec_id AS cell_id, qv AS cv FROM qv WHERE vec_id % 97 = 0),
assign AS (
  SELECT vec_id, qv, cell_id FROM (
    SELECT v.vec_id, v.qv, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_SQL_INT_DOT.format(a="list_transform(generate_series(1, len(v.qv)), i -> v.qv[i] - c.cv[i])", b="list_transform(generate_series(1, len(v.qv)), i -> v.qv[i] - c.cv[i])")} ASC,
             c.cell_id ASC) AS rn
    FROM qv v CROSS JOIN cents c
  ) WHERE rn = 1
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COSINE_AB} AS cosine
  FROM assign a JOIN assign b ON a.cell_id = b.cell_id AND b.vec_id != a.vec_id
  WHERE a.vec_id < 20
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 5
""",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(probe=1) cosine top-5: deterministic coarse codebook
    (vec_id % 97 == 0), nearest-centroid cell assignment, per-cell
    search — the sub-linear scale path for ANN."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(e.filter(F.col("vec_id") < 20), e, k=5).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


_IVF_LIT_MOD = 199  # deterministic codebook: vec_id % 199 == 0
# Bound the codebook: mod-filter alone is a linear-in-corpus driver
# pull (N/199 rows); the id-range cap fixes it at ≤256 cells no matter
# the corpus size. Mirrored in the oracle CTE below.
_IVF_MAX_CELLS = 256
_IVF_CAP_ID = _IVF_LIT_MOD * _IVF_MAX_CELLS

_SQL_DIFF = "list_transform(generate_series(1, len(v.qv)), i -> v.qv[i] - c.cv[i])"


@query(
    "ivf_cells_literal",
    oracle=f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
  FROM embeddings
),
cents AS (SELECT vec_id AS cell_id, qv AS cv FROM qv
          WHERE vec_id % {_IVF_LIT_MOD} = 0 AND vec_id < {_IVF_CAP_ID}),
assign AS (
  SELECT vec_id, qv, cell_id FROM (
    SELECT v.vec_id, v.qv, c.cell_id,
           row_number() OVER (PARTITION BY v.vec_id ORDER BY
             {_SQL_INT_DOT.format(a=_SQL_DIFF, b=_SQL_DIFF)} ASC,
             c.cell_id ASC) AS rn
    FROM qv v CROSS JOIN cents c
  ) WHERE rn = 1
)
SELECT CAST(cell_id AS BIGINT) AS cell_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(MAX(vec_id) AS BIGINT) AS max_vec_id,
       CAST(SUM(qv[1]) AS BIGINT) AS sum_q1
FROM assign GROUP BY 1
""",
)
def q_ivf_cells_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ZERO-SHUFFLE IVF cell-assignment path, driver-gated: the
    coarse codebook (vec_id % {_IVF_LIT_MOD} == 0) is collected to the
    driver — a codebook is small by definition (k_cells × dim ints; the
    one sanctioned driver pull, same reasoning as streaming.scoring's
    plan-literal centroids) — and folded into the plan as literals, so
    every corpus vector computes its nearest cell as a per-row
    array_min over (dist, cell_id) structs inside codegen. No broadcast
    join, no groupBy: the ONLY shuffle in this query is the final
    per-cell profile aggregation. Compare assign_cells (ann_ivf_topk),
    which pays one map-side-combined shuffle for the same assignment.
    Output profiles each cell (count, id range, Σ first component) so
    any assignment drift flips the hash."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", SIM.quantize(F.col("embedding")).alias("qv"))
    codebook = [
        (int(r["vec_id"]), [int(x) for x in r["qv"]])
        for r in q.filter(
            (F.col("vec_id") % _IVF_LIT_MOD == 0) & (F.col("vec_id") < _IVF_CAP_ID)
        ).collect()
    ]
    assigned = SIM.assign_cells_literal(q, codebook, "qv")
    return assigned.groupBy(
        F.col("cell_id").cast("long").alias("cell_id")
    ).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
        F.sum(F.col("qv")[0]).alias("sum_q1"),
    )


# Sign-LSH plane matrix as a DuckDB literal (16 hyperplanes × 64 ±1
# components, same LCG stream as operators/similarity._plane_signs).
_EMB_DIM = 64
_PLANES_LIT = (
    "["
    + ", ".join(
        "[" + ", ".join(str(s) for s in row) + "]"
        for row in SIM._plane_signs(_EMB_DIM)
    )
    + "]"
)


def _sql_sign_lsh_pairs() -> str:
    # Literal twin of similarity.sign_lsh_pairs: 16-bit hyperplane-sign
    # sketch per vector, candidates = same-sketch pairs, exact quantized
    # cosine verify — all integer arithmetic, bit-reproducible.
    return f"""
WITH {VECS_NEARDUP_CTE},
planes AS (SELECT {_PLANES_LIT} AS p),
sk AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(generate_series(1, {SIM.N_PLANES}), j ->
           CASE WHEN list_sum(list_transform(generate_series(1, {_EMB_DIM}), i ->
                  qv[i] * p[j][i])) >= 0
                THEN (CAST(1 AS BIGINT) << (j - 1)) ELSE CAST(0 AS BIGINT) END))
              AS BIGINT) AS sk
  FROM vecs_aug, planes
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COSINE_AB} AS cosine
FROM sk a JOIN sk b ON a.sk = b.sk AND a.vec_id < b.vec_id
WHERE {_COSINE_AB} >= 0.99
"""


@query("embedding_dup_pairs", oracle=_sql_sign_lsh_pairs())
def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.99) via sign-LSH
    blocking — the planted perturbed copies sit at cosine ≈ 0.9999999
    and agree on all 16 hyperplane signs; random pairs (< 0.6) land in
    the same 16-bit bucket only ~once per 65k pairs and die in the
    exact-cosine verify. The graded plan shuffles by sketch (O(N) rows),
    NOT the all-pairs NLJ."""
    v = vecs_neardup(spark, sf_dir)
    return SIM.sign_lsh_pairs(
        v, threshold=0.99, id_col="vec_id", vec_col="qv",
        dim=_EMB_DIM, quantized=True,
    )


@query(
    "term_doc_frequency",
    oracle=f"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM (
  SELECT doc_id, unnest(list_distinct({TX.SQL_TOKENIZE.format(col='text')})) AS token
  FROM documents
)
GROUP BY token
ORDER BY doc_freq DESC, token ASC
LIMIT 20
""",
)
def q_term_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus document frequency: distinct tokens per doc → explode →
    count docs per token → top-20 (doc_freq DESC, token ASC). The
    per-doc array_distinct happens BEFORE the explode, so the shuffle
    carries each (doc, token) once; the final top-k is
    TakeOrderedAndProject. At 100 TB this is the vocabulary-building
    pass of a TF-IDF / BPE pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.array_distinct(TX.tokenize(F.col("text")))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dedup clustering + deterministic dataset splitting
# ---------------------------------------------------------------------------

def _sql_components() -> str:
    # Transitive closure by recursive CTE over the MinHash-LSH pair
    # graph — the exact (exponential-free, set-based) oracle for the
    # iterative min-label propagation in dedup.connected_components.
    pairs = _sql_minhash_lsh()
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({pairs}) q),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON r.node = s.b
)
SELECT node AS doc_id, CAST(MIN(lbl) AS BIGINT) AS component_id
FROM reach GROUP BY node
"""


@query("dedup_components", oracle=_sql_components())
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the MinHash-LSH
    pair graph, labeling every involved doc with its component's min id
    (the canonical survivor). This is the step that turns pairwise
    dedup output into keep/drop decisions; see
    operators/dedup.connected_components for the iteration/convergence
    design."""
    edges = DD.minhash_lsh_pairs(
        docs_neardup(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2
    ).select("id_a", "id_b")
    comps = DD.connected_components(edges, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("component_id"),
    )


@query(
    "stratified_split",
    oracle=f"""
WITH s AS (
  SELECT source, {SAMPLING.sql_split_case("doc_id")} AS split, n_chars
  FROM documents
)
SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY 1, 2
""",
)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment keyed on
    doc_id (md5-prefix buckets — reproducible across engines, runs,
    and partitionings; see operators/sampling.py), audited per source:
    doc and char counts per (source, split). The split itself is a
    zero-shuffle map-side projection; only the audit aggregates."""
    d = SAMPLING.with_split(
        load_table(spark, sf_dir, "documents"), "doc_id", train=0.8, val=0.1
    )
    return d.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# TF-IDF + cross-split contamination
# ---------------------------------------------------------------------------

@query(
    "tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
best AS (
  SELECT t.doc_id, t.token, t.tf, d.doc_freq,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY t.tf DESC, d.doc_freq ASC, t.token ASC)
           AS rn
  FROM tf t JOIN df d USING (token)
)
SELECT doc_id, token AS top_token, CAST(tf AS BIGINT) AS tf,
       CAST(doc_freq AS BIGINT) AS doc_freq,
       ROUND(tf * ln((SELECT n_docs FROM n) * 1.0 / doc_freq), 6) AS tfidf
FROM best WHERE rn = 1
""",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's most characteristic token by TF-IDF. Plan: one
    (doc, token) count shuffle for TF; DF reuses that result with a
    token-keyed re-aggregation (the corpus-wide vocabulary pass shared
    with term_doc_frequency); N broadcasts as a 1-row aggregate; the
    per-doc winner is a rank-1 window cut. The RANKING is pure-integer
    (tf DESC, doc_freq ASC, token ASC) so it can never flip on a float
    ulp — ln() only appears in the reported score, rounded to 6dp."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(TX.tokenize(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    from bigdata_invoice_stream_analysis_spark.cache import scoped_cache

    scoped_cache(tf)
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("doc_freq"), F.asc("token")
    )
    return (
        tf.join(df_, "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(n))
        .select(
            "doc_id",
            F.col("token").alias("top_token"),
            "tf",
            "doc_freq",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("doc_freq")), 6
            ).alias("tfidf"),
        )
    )


@query(
    "split_contamination",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SAMPLING.sql_split_case("doc_id")} AS split, text
  FROM documents
),
sh AS (
  SELECT doc_id, split,
         unnest(list_distinct({TX.sql_shingle_hashes("text", n=3)})) AS h
  FROM d
),
train_h AS (SELECT DISTINCT h FROM sh WHERE split = 'train'),
test AS (SELECT doc_id, h FROM sh WHERE split = 'test')
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(th.h) AS BIGINT) AS n_shared,
       ROUND(COUNT(th.h) * 1.0 / COUNT(*), 6) AS contamination
FROM test t LEFT JOIN train_h th ON t.h = th.h
GROUP BY t.doc_id
""",
)
def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: for every test-split document,
    the fraction of its distinct 3-gram shingles that also occur
    anywhere in the train split — the leakage check a training-data
    pipeline runs before shipping an eval set. Shingle hashes are
    distinct per doc BEFORE exploding, so the join carries each
    (doc, shingle) once; the train side collapses to a distinct-hash
    set (8-byte keys — at 100 TB this is a hash-partitioned big-big
    join on the shingle, with a bloom/semi pre-filter as the upgrade
    path). Counts are integers; the ratio divides after aggregation."""
    d = SAMPLING.with_split(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = d.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(TX.shingle_hashes(F.col("text"), n=3))
        ).alias("h"),
    )
    train_h = (
        sh.filter(F.col("split") == "train")
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test = sh.filter(F.col("split") == "test").select("doc_id", "h")
    return (
        test.join(train_h, "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )


@query(
    "label_embedding_centroids",
    oracle="""
WITH comp AS (
  SELECT label,
         unnest(list_transform(generate_series(1, len(embedding)),
                i -> {'dim': i,
                      'q': CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)})) AS u
  FROM embeddings
)
SELECT label, CAST(u.dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(SUM(u.q) / (10000.0 * COUNT(*)), 6) AS centroid
FROM comp GROUP BY label, u.dim
""",
)
def q_label_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise mean over the
    64-dim vectors) — the class-prototype computation behind
    centroid-based filtering, retrieval calibration, and IVF codebook
    seeding. posexplode turns the array into (label, dim, component)
    rows so ONE hash aggregation computes every (label, dim) mean;
    the shuffle carries partial integer sums (components quantized to
    1e-4, the repo-wide embedding convention), never whole vectors.
    Long format (label, dim) avoids cross-engine array-ordering
    hazards; dims are 1-based to match SQL subscripts."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("pos", "x"),
    ).select(
        "label",
        (F.col("pos") + 1).cast("long").alias("dim"),
        F.round(F.col("x") * 10000).cast("long").alias("q"),
    )
    return comp.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.sum("q") / (10000.0 * F.count(F.lit(1))), 6).alias("centroid"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (winnowing) + within-doc repetition +
# dedup survivor selection
# ---------------------------------------------------------------------------

WINNOW_K = 3   # k-gram width (tokens)
WINNOW_W = 4   # winnow window (k-grams per selection window)


def _sql_winnow() -> str:
    hashes = TX.sql_ordered_shingle_hashes("text", WINNOW_K)
    return f"""
WITH h AS (
  SELECT doc_id, {hashes} AS hs FROM documents
),
g AS (
  SELECT h.doc_id, s.i AS pos, h.hs[s.i] AS hash, len(h.hs) AS n
  FROM h, UNNEST(generate_series(1, len(h.hs))) AS s(i)
),
sel AS (
  SELECT doc_id,
         MIN(hash) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW
                         AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM g QUALIFY pos <= GREATEST(n - {WINNOW_W} + 1, 1)
)
SELECT doc_id,
       CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fps,
       CAST(MIN(fp) AS BIGINT) AS min_fp,
       CAST(MAX(fp) AS BIGINT) AS max_fp
FROM sel GROUP BY 1
"""


@query("winnow_fingerprints", oracle=_sql_winnow())
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): minimum
    k-gram hash per sliding window of w consecutive k-grams, distinct
    per doc. Any two documents sharing a run of >= w+k-1 tokens are
    GUARANTEED to share a fingerprint — the substring-robust dedup
    primitive that shingle-set methods (MinHash) only achieve
    probabilistically. Plan: per-row hash array (codegen, no Python),
    posexplode, ONE window pass partitioned by doc_id (w is a plan
    constant, so the running min is O(1)/row), distinct + agg reusing
    the same partitioning — a single shuffle on doc_id end to end.
    Docs shorter than one window emit their global-min fingerprint so
    every doc is represented."""
    from pyspark.sql.window import Window

    from bigdata_invoice_stream_analysis_spark.operators.fence import optimizer_fence

    docs = load_table(spark, sf_dir, "documents")
    # Two fences: (1) token hashes materialize once (compose_token_hashes
    # references its input O(n) times); (2) the composed gram array is
    # referenced by BOTH posexplode and size() — unfenced, Catalyst
    # inlines the hashing into each consumer (measured 6×).
    toks = optimizer_fence(
        docs.select("doc_id", TX.token_hashes(F.col("text")).alias("th"))
    )
    hashed = optimizer_fence(
        toks.select(
            "doc_id",
            TX.compose_token_hashes(F.col("th"), WINNOW_K).alias("hs"),
        )
    )
    h = hashed.select(
        "doc_id",
        F.posexplode(F.col("hs")).alias("pos0", "hash"),
        F.size(F.col("hs")).alias("n"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos0")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    sel = h.select(
        "doc_id",
        F.min("hash").over(w).alias("fp"),
        "pos0",
        "n",
    ).where(F.col("pos0") + 1 <= F.greatest(F.col("n") - WINNOW_W + 1, F.lit(1)))
    return sel.groupBy("doc_id").agg(
        F.count_distinct("fp").alias("n_fps"),
        F.min("fp").alias("min_fp"),
        F.max("fp").alias("max_fp"),
    )


@query(
    "doc_repetition",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({TX.SQL_TOKENIZE.format(col="text")}) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS repetition,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_token_share
FROM tf GROUP BY 1
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition profile — the boilerplate/spam
    signal an LLM data-quality pipeline thresholds on (high repetition
    => templated or degenerate text). Two-level aggregation: explode
    tokens → count per (doc, token) — partial map-side combine keeps
    the shuffle at distinct-term cardinality, not token count — then
    collapse per doc into type/token ratio and top-token share. Both
    ratios divide exact integer counts once per doc."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id", F.explode(TX.tokenize(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return tf.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(
            1.0 - F.count(F.lit(1)).cast("double") / F.sum("cnt"), 6
        ).alias("repetition"),
        F.round(F.max("cnt").cast("double") / F.sum("cnt"), 6).alias(
            "top_token_share"
        ),
    )


@query(
    "dedup_survivors",
    oracle=f"""
WITH comp AS ({_sql_components()}),
member AS (
  SELECT c.component_id, c.doc_id, length(d.text) AS n_chars
  FROM comp c JOIN (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000,
           array_to_string(list_filter(string_split(text, ' '),
                                       (x, i) -> i % 7 != 0), ' ')
    FROM documents WHERE doc_id % 10 = 0
  ) d ON d.doc_id = c.doc_id
),
rk AS (
  SELECT component_id, doc_id, n_chars,
         row_number() OVER (PARTITION BY component_id
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM member
)
SELECT component_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
         AS survivor_doc,
       CAST(MAX(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT)
         AS survivor_chars
FROM rk GROUP BY 1
""",
)
def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision for near-dup clusters: per connected
    component, the canonical survivor (longest text, ties to the
    smallest doc_id — 'best exemplar wins', the rule a training-data
    pipeline applies before dropping the rest). Components come from
    the same MinHash-LSH + label-propagation pipeline as
    dedup_components; survivor choice is a row_number window over the
    (small) component membership, then one agg. At 100 TB the window
    partitions by component_id — bounded by cluster size, no global
    sort."""
    from pyspark.sql.window import Window

    corpus = docs_neardup(spark, sf_dir)
    edges = DD.minhash_lsh_pairs(
        corpus, "doc_id", "text", n=3, threshold=0.2
    ).select("id_a", "id_b")
    comps = DD.connected_components(edges, "id_a", "id_b").select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("component_id"),
    )
    member = comps.join(
        corpus.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    rk = member.select(
        "component_id",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rn"),
    )
    return rk.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("survivor_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("survivor_chars"),
    )


# ---------------------------------------------------------------------------
# Scalar-quantized ANN, k-NN classification, embedding norm profile
# ---------------------------------------------------------------------------

_SQL_SQ8_AB_DOT = _SQL_INT_DOT.format(a="a.q8", b="b.q8")


@query(
    "ann_sq8_topk",
    oracle=f"""
WITH qv AS (
  SELECT vec_id,
         {SIM.SQL_QUANTIZE.format(v="embedding")} AS qv
  FROM embeddings
),
codes AS (
  SELECT vec_id, qv, {SIM.SQL_SQ8.format(v="qv")} AS q8 FROM qv
),
cand AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         a.qv AS aqv, b.qv AS bqv,
         {_SQL_SQ8_AB_DOT} AS approx
  FROM codes a JOIN codes b ON b.vec_id != a.vec_id
  WHERE a.vec_id < 20
),
kept AS (
  SELECT query_id, neighbor_id, aqv, bqv
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY approx DESC, neighbor_id ASC) AS cand_rank
    FROM cand
  ) WHERE cand_rank <= 20
),
rer AS (
  SELECT query_id, neighbor_id,
         {_sql_quant_cosine("aqv", "bqv")} AS cosine
  FROM kept
)
SELECT query_id, neighbor_id, cosine,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM rer
) WHERE rank <= 5
""",
)
def q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN: int8 codes generate 20 candidates per
    query (8× smaller index scan), exact quantized cosine reranks to
    top-5 — the asymmetric candidate/rerank split of a production SQ
    index. See operators/similarity.sq8_topk for the scale layout."""
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.sq8_topk(
        e.filter(F.col("vec_id") < 20), e, k=5, n_candidates=20
    ).select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
    )


@query(
    "knn_label_vote",
    oracle=f"""
WITH qv AS (
  SELECT vec_id, label,
         {SIM.SQL_QUANTIZE.format(v="embedding")} AS qv
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS nl,
         {_sql_quant_cosine("a.qv", "b.qv")} AS cosine
  FROM qv a JOIN qv b ON b.vec_id != a.vec_id
  WHERE a.vec_id < 50
),
topk AS (
  SELECT query_id, nl FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 5
),
votes AS (
  SELECT query_id, nl AS predicted_label, COUNT(*) AS n_votes
  FROM topk GROUP BY 1, 2
)
SELECT query_id, CAST(predicted_label AS INT) AS predicted_label,
       CAST(n_votes AS BIGINT) AS n_votes
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY n_votes DESC, predicted_label ASC) AS rn
  FROM votes
) WHERE rn = 1
""",
)
def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification by majority vote over the exact top-5
    cosine neighbors (queries: vec_id < 50). Composition query: the
    knn_topk operator feeds a per-(query,label) count and an argmax
    window — all three stages share the query_id partitioning, so
    Catalyst plans one exchange after the scored cross join. Ties:
    most votes, then smallest label (deterministic)."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    topk = SIM.knn_topk(e.filter(F.col("vec_id") < 50), e, k=5)
    labeled = topk.join(
        F.broadcast(e.select(F.col("vec_id").alias("neighbor_id"), "label")),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", F.col("label").alias("predicted_label")).agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("predicted_label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "predicted_label", "n_votes")
    )


@query(
    "embedding_norm_stats",
    oracle=f"""
WITH qv AS (
  SELECT label,
         {SIM.SQL_QUANTIZE.format(v="embedding")} AS qv
  FROM embeddings
),
n2 AS (
  SELECT label, {_SQL_INT_DOT.format(a="qv", b="qv")} AS norm2 FROM qv
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       ROUND(CAST(SUM(norm2) AS DOUBLE) / (COUNT(*) * 100000000.0), 6)
         AS mean_sq_norm,
       ROUND(SQRT(CAST(MIN(norm2) AS DOUBLE)) / 10000.0, 6) AS min_norm,
       ROUND(SQRT(CAST(MAX(norm2) AS DOUBLE)) / 10000.0, 6) AS max_norm
FROM n2 GROUP BY 1
""",
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding norm profile — the sanity audit before any
    cosine-based pipeline (unnormalized embeddings silently break dot-
    product retrieval). Norms are exact integer norm² on the 1e-4
    grid; the mean aggregates the INTEGER norm² (exact, order-free)
    and converts to float units once per label — never averaging
    doubles, which would be summation-order-sensitive."""
    emb = load_table(spark, sf_dir, "embeddings")
    n2 = emb.select(
        "label",
        SIM.int_norm2(SIM.quantize(F.col("embedding"))).alias("norm2"),
    )
    return n2.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(
            F.sum("norm2").cast("double") / (F.count(F.lit(1)) * 1e8), 6
        ).alias("mean_sq_norm"),
        F.round(F.sqrt(F.min("norm2").cast("double")) / 10000.0, 6).alias("min_norm"),
        F.round(F.sqrt(F.max("norm2").cast("double")) / 10000.0, 6).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling surfaces + quality-filter composition
# ---------------------------------------------------------------------------

@query(
    "entity_hash_sample",
    oracle=f"""
WITH sc AS (
  SELECT c_custkey, c_mktsegment FROM customer
  WHERE substring(md5(CAST(c_custkey AS VARCHAR)), 1, 4) < '{format(int((1 << 16) * 0.10), "04x")}'
)
SELECT sc.c_mktsegment AS segment,
       CAST(COUNT(DISTINCT sc.c_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
       ROUND(SUM(COALESCE(CAST(ROUND(o.o_totalprice * 100) AS BIGINT), 0))
             / 100.0, 6) AS sampled_value
FROM sc LEFT JOIN orders o ON o.o_custkey = sc.c_custkey
GROUP BY 1
""",
)
def q_entity_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-consistent 10% sample: customers sampled by md5 bucket of
    their key, then ALL their orders follow (the property rand()-based
    sampling cannot give you — the same entity samples identically in
    every table and run, so joins over sampled tables stay consistent).
    The sample predicate is a pure map-side expression; the audit
    aggregates per segment. At 100 TB the sampled customer set
    broadcasts."""
    from bigdata_invoice_stream_analysis_spark.operators.sampling import hash_sample

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    sc = hash_sample(c.select("c_custkey", "c_mktsegment"), "c_custkey", 0.10)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        F.broadcast(sc)
        .join(o, sc.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count_distinct("c_custkey").alias("n_customers"),
            F.count("o_orderkey").alias("n_orders"),
            r6(F.sum(F.coalesce(cents, F.lit(0))) / 100.0).alias("sampled_value"),
        )
    )


@query(
    "per_source_reservoir",
    oracle="""
SELECT source, doc_id, CAST(smp_rank AS INT) AS smp_rank
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS smp_rank
  FROM documents
) WHERE smp_rank <= 3
""",
)
def q_per_source_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key reservoir: 3 uniform exemplar docs per
    source, chosen by ranking on the md5 of the doc key — the
    reproducible analog of reservoir sampling (same exemplars every
    run/engine/partitioning). One window shuffle on source; rank
    cutoff prunes to k rows per key before anything else moves. The
    inspect-a-sample-of-every-source step of corpus QA."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("source", "doc_id", F.row_number().over(w).alias("smp_rank"))
        .filter(F.col("smp_rank") <= 3)
        .select("source", "doc_id", F.col("smp_rank").cast("int").alias("smp_rank"))
    )


@query(
    "contrastive_negatives",
    oracle="""
WITH pool AS (
  SELECT vec_id, label FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 64
),
anchors AS (SELECT vec_id AS anchor_id, label AS al FROM embeddings WHERE vec_id < 50),
cand AS (
  SELECT anchor_id, p.vec_id AS neg_id,
         row_number() OVER (
           PARTITION BY anchor_id
           ORDER BY md5(CAST(anchor_id AS VARCHAR) || '_' || CAST(p.vec_id AS VARCHAR)),
                    p.vec_id) AS rnk
  FROM anchors a JOIN pool p ON p.label != a.al
)
SELECT anchor_id, neg_id, CAST(rnk AS INT) AS rank
FROM cand WHERE rnk <= 3
""",
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws k=3 negatives (different label) from a BOUNDED
    hash-ranked candidate pool, with the pick order itself a pure
    function of the (anchor, candidate) pair's md5 — so the same
    anchor gets the same negatives on every run, engine, and
    partitioning (the property that makes training data lineage
    auditable). Scale shape: the pool is 64 rows chosen by
    TakeOrderedAndProject and BROADCAST, so the label-mismatch join is
    a per-anchor scan of a constant-size in-memory list (a broadcast
    nested loop over 64 rows — bounded by construction, NOT a corpus
    self-join), and the per-anchor ranking window orders ≤64 rows.
    At 10⁹ anchors the cost is linear in anchors with zero corpus
    shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    pool = (
        e.select("vec_id", "label")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(64)
    )
    anchors = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("al")
    )
    cand = anchors.join(
        F.broadcast(pool), F.col("label") != F.col("al")
    ).select("anchor_id", F.col("vec_id").alias("neg_id"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat(
                F.col("anchor_id").cast("string"),
                F.lit("_"),
                F.col("neg_id").cast("string"),
            )
        ),
        "neg_id",
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("anchor_id", "neg_id", F.col("rank").cast("int").alias("rank"))
    )


_QWS_MAX = 2000  # weight cap: weight = min(n_chars, 2000)


@query(
    "quality_weighted_sample",
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN {SAMPLING.sql_weighted_keep('doc_id', f'LEAST(n_chars, {_QWS_MAX})', _QWS_MAX)}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN {SAMPLING.sql_weighted_keep('doc_id', f'LEAST(n_chars, {_QWS_MAX})', _QWS_MAX)}
                THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM documents
GROUP BY 1
""",
)
def q_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted deterministic sampling (the DSIR /
    quality-resampling primitive a pretraining mixture pipeline runs
    after scoring): each doc is kept with probability
    weight/max_weight — here weight = min(n_chars, 2000), i.e. longer
    docs up to the cap are proportionally more likely to survive — and
    the accept/reject decision is a pure integer function of the doc
    key's md5 bucket (operators/sampling.weighted_keep), so the SAME
    docs survive on every run, engine, and partitioning, and the
    decision composes with entity-consistent sampling across joined
    tables. Pure map-side expression + one source-keyed audit agg;
    at 100 TB the sample decision costs one hash per row, no shuffle.
    Gate: per-source (docs, kept, kept-chars) — any drift in the hash
    bucket math or the weight threshold flips the counts."""
    d = load_table(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars"), F.lit(_QWS_MAX))
    keep = SAMPLING.weighted_keep(F.col("doc_id"), w, _QWS_MAX)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep.cast("long")).alias("n_kept"),
        F.sum(F.when(keep, F.col("n_chars")).otherwise(F.lit(0))).alias(
            "kept_chars"
        ),
    )


# Quality-filter thresholds (chosen to split the synthetic corpus
# non-trivially: token count 10-99 w/ median 56; stopword ratio 0-0.22
# w/ median 0.06).
QF_MIN_TOKENS = 40
QF_MAX_STOPWORD_RATIO = 0.09


def _sql_quality_filter_core() -> str:
    q = TX.sql_quality_features("text")
    return f"""
feat AS (
  SELECT doc_id, n_chars,
         {q["n_tokens"]} AS n_tokens,
         {q["stopword_ratio"]} AS stopword_ratio
  FROM documents
),
flagged AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_tokens < {QF_MIN_TOKENS} THEN 1 ELSE 0 END AS f_short,
         CASE WHEN stopword_ratio > {QF_MAX_STOPWORD_RATIO} THEN 1 ELSE 0 END
           AS f_stopwordy
  FROM feat
),
verdict AS (
  SELECT doc_id, n_chars,
         (f_short = 0 AND f_stopwordy = 0) AS keep,
         concat_ws(',',
           CASE WHEN f_short = 1 THEN 'short' END,
           CASE WHEN f_stopwordy = 1 THEN 'stopwordy' END) AS reasons
  FROM flagged
)
"""


@query(
    "quality_filter_verdicts",
    oracle=f"""
WITH {_sql_quality_filter_core()}
SELECT doc_id, keep, reasons FROM verdict
""",
)
def q_quality_filter_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed quality filter — the keep/drop decision with
    machine-readable reject reasons ('short,stopwordy'), the shape a
    training-data pipeline writes next to every document so filtering
    is auditable and reversible. Pure per-row expressions (the
    signals come from quality_features), zero shuffle at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    f_short = feats["n_tokens"] < QF_MIN_TOKENS
    f_stop = feats["stopword_ratio"] > QF_MAX_STOPWORD_RATIO
    return docs.select(
        "doc_id",
        (~f_short & ~f_stop).alias("keep"),
        F.concat_ws(
            ",",
            F.when(f_short, F.lit("short")),
            F.when(f_stop, F.lit("stopwordy")),
        ).alias("reasons"),
    )


@query(
    "quality_filter_stats",
    oracle=f"""
WITH {_sql_quality_filter_core()}
SELECT keep, reasons,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM verdict GROUP BY 1, 2
""",
)
def q_quality_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yield audit for the composed quality filter: docs and bytes per
    (keep, reasons) bucket — the number a pipeline owner watches to
    catch a filter suddenly eating the corpus. Map-side flag
    computation, one tiny agg."""
    docs = load_table(spark, sf_dir, "documents")
    feats = TX.quality_features(F.col("text"))
    f_short = feats["n_tokens"] < QF_MIN_TOKENS
    f_stop = feats["stopword_ratio"] > QF_MAX_STOPWORD_RATIO
    return (
        docs.select(
            (~f_short & ~f_stop).alias("keep"),
            F.concat_ws(
                ",",
                F.when(f_short, F.lit("short")),
                F.when(f_stop, F.lit("stopwordy")),
            ).alias("reasons"),
            F.length("text").alias("n_chars"),
        )
        .groupBy("keep", "reasons")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


# ---------------------------------------------------------------------------
# CDC compaction, mergeable rollups, binary media dedup
# ---------------------------------------------------------------------------

@query(
    "latest_event_per_user",
    oracle="""
SELECT user_id, event_id, event_type, ts
FROM (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest compaction (the CDC/upsert materialization step:
    many change rows per key → current state). row_number over
    (ts DESC, event_id DESC) with ONE shuffle on the key; at 100 TB
    this is the exact plan of a snapshot rebuild; under Structured
    Streaming the same keep-one-per-key step would be
    dropDuplicatesWithinWatermark on the key.
    event_id breaks same-timestamp ties deterministically."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "event_id", "event_type", "ts",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "daily_to_monthly_rollup",
    oracle="""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority AS priority,
         COUNT(*) AS n_orders,
         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders GROUP BY 1, 2
)
SELECT strftime(day, '%Y-%m') AS month_label, priority,
       CAST(SUM(n_orders) AS BIGINT) AS n_orders,
       ROUND(SUM(cents) / 100.0, 6) AS total_value
FROM daily GROUP BY 1, 2
""",
)
def q_daily_to_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-aggregate rollup: daily partial aggregates re-merged
    into monthly figures — the two-level pattern behind every
    incremental rollup table (compute small partials near the data
    once, merge cheaply forever after). Works because count/sum are
    commutative monoids over exact integers; the daily→monthly merge
    touches only |days|×|priorities| rows regardless of order volume.
    The oracle aggregates the base table directly, so the gate PROVES
    partial-merge == direct aggregation."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    return daily.groupBy(
        F.date_format("day", "yyyy-MM").alias("month_label"), "priority"
    ).agg(
        F.sum("n_orders").alias("n_orders"),
        r6(F.sum("cents") / 100.0).alias("total_value"),
    )


# PII redaction + URL extraction (planted-PII corpus)
# ---------------------------------------------------------------------------
# The synthetic corpus contains no natural PII/URLs, so both engines
# plant them deterministically (same "deterministic dirt" convention as
# plans/queries.py): every 7th doc gains an email, every 11th a URL,
# every 13th a phone number — all derived from doc_id arithmetic.

EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.\-]+\.[a-z]+"
PHONE_RE = r"\b555-[0-9]{4}\b"
URL_RE = r"https?://[a-z0-9.\-]+[a-z0-9./\-]*"
URL_DOMAIN_RE = r"https?://([a-z0-9.\-]+)"

PII_DOCS_CTE = """
pii_docs AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' visit https://site' || CAST(doc_id % 5 AS VARCHAR)
                      || '.example.org/page/' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                 ELSE '' END AS text
  FROM documents
)
"""


def docs_with_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with deterministically planted emails/URLs/phones."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    email = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                 F.lit("@example.com")),
    ).otherwise(F.lit(""))
    url = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit(" visit https://site"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".example.org/page/"), F.col("doc_id").cast("string")),
    ).otherwise(F.lit(""))
    phone = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit(" call 555-"), (F.lit(1000) + F.col("doc_id") % 9000).cast("string")),
    ).otherwise(F.lit(""))
    return d.select(
        "doc_id", F.concat(F.col("text"), email, url, phone).alias("text")
    )


@query(
    "pii_redaction",
    oracle=f"""
WITH {PII_DOCS_CTE}
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PHONE_RE}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS clean_hash,
       CAST(length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                                  '{PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
         AS clean_len
FROM pii_docs
""",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub — the redaction pass a training-data pipeline runs
    before anything else: count and replace emails/phones with typed
    placeholder tokens. Pure per-row regexp expressions (JVM codegen,
    zero shuffle, no Python); the gate hashes the REDACTED text, so
    the oracle proves byte-exact replacement, not just counts.
    Patterns avoid lookarounds so Java regex (Spark) and RE2 (DuckDB)
    agree; that portability constraint is real — a deployed scrubber
    pins its dialect the same way."""
    d = docs_with_pii(spark, sf_dir)
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
        PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.md5(F.encode(clean, "UTF-8")).alias("clean_hash"),
        F.length(clean).cast("long").alias("clean_len"),
    )


@query(
    "url_domain_counts",
    oracle=f"""
WITH {PII_DOCS_CTE},
urls AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{URL_DOMAIN_RE}', 1)) AS domain
  FROM pii_docs
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM urls GROUP BY 1
""",
)
def q_url_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL → domain extraction and ranking — the source-domain audit
    behind corpus curation (block-lists, per-domain caps). Extraction
    is a per-row regexp_extract_all + explode; the aggregate is keyed
    on domain (bounded cardinality), so the shuffle carries partial
    counts only. At 100 TB the same plan feeds a per-domain cap join
    (broadcast the block-list against this output)."""
    d = docs_with_pii(spark, sf_dir)
    urls = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(URL_DOMAIN_RE), F.lit(1))
        ).alias("domain"),
    )
    return urls.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Grouped-map Arrow surface + corpus rarity scoring
# ---------------------------------------------------------------------------

@query(
    "source_char_profile",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(median(n_chars), 6) AS median_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents GROUP BY 1
""",
)
def q_source_char_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source char-length profile via applyInPandas — the
    STATELESS grouped-map Arrow surface (each source's rows arrive as
    one pandas frame; medians/extremes computed vectorized, one small
    row returned per group). This op IS expressible natively
    (percentile_approx / sort-based exact median), and for plain
    stats the native form wins — the grouped-map shape is gated here
    because it is the escape hatch for genuinely per-group Python
    (scipy fits, per-entity models), and the driver gate proves the
    Arrow batch path is bit-correct (numpy linear-interp median ==
    SQL quantile_cont(0.5)). One shuffle on the group key, same as
    the native agg."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")

    def profile(pdf: pd.DataFrame) -> pd.DataFrame:
        ch = pdf["n_chars"]
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "median_chars": [round(float(ch.median()), 6)],
                "min_chars": [int(ch.min())],
                "max_chars": [int(ch.max())],
            }
        )

    return docs.groupBy("source").applyInPandas(
        profile,
        schema="source string, n_docs long, median_chars double, "
               "min_chars long, max_chars long",
    )


@query(
    "doc_rarity_score",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({TX.SQL_TOKENIZE.format(col="text")}) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2),
vocab AS (SELECT token, SUM(cnt) AS tok_total FROM tf GROUP BY 1),
t AS (SELECT SUM(tok_total) AS corpus_total FROM vocab),
scored AS (
  SELECT tf.doc_id,
         SUM(tf.cnt) AS n_tokens,
         SUM(tf.cnt * CAST(FLOOR(CAST(t.corpus_total AS DOUBLE) / vocab.tok_total)
                           AS BIGINT)) AS rarity_sum
  FROM tf JOIN vocab ON tf.token = vocab.token CROSS JOIN t
  GROUP BY 1
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(rarity_sum AS BIGINT) AS rarity_sum,
       ROUND(CAST(rarity_sum AS DOUBLE) / n_tokens, 6) AS mean_rarity
FROM scored
""",
)
def q_doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative rarity score — the unigram-LM quality proxy
    (documents dominated by ultra-common tokens score low; rare-token
    docs score high). Per-token weight is the integer inverse
    frequency floor(corpus_total / token_count): a monotone stand-in
    for -log p(token) chosen because ln() is not bit-specified across
    engines while integer division is — the whole score stays in
    exact BIGINT until the final per-doc division. Plan: one (doc,
    token) shuffle builds tf; vocab re-aggregates token-keyed partials
    from tf (bounded by vocabulary size) and BROADCASTS back onto tf —
    no second pass over the corpus; the corpus total rides along as a
    literal-sized broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(TX.tokenize(F.col("text"))).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from bigdata_invoice_stream_analysis_spark.cache import scoped_cache

    tf = scoped_cache(tf)
    vocab = tf.groupBy("token").agg(F.sum("cnt").alias("tok_total"))
    total = vocab.agg(F.sum("tok_total").alias("corpus_total"))
    scored = (
        tf.join(F.broadcast(vocab), "token")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.col("cnt")
                * F.floor(
                    F.col("corpus_total").cast("double") / F.col("tok_total")
                ).cast("long")
            ).alias("rarity_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "rarity_sum",
        r6(F.col("rarity_sum").cast("double") / F.col("n_tokens")).alias(
            "mean_rarity"
        ),
    )


# ---------------------------------------------------------------------------
# Composition queries: embedding-dup clustering + decontaminated split
# ---------------------------------------------------------------------------

def _sql_embedding_components() -> str:
    pairs = _sql_sign_lsh_pairs()
    return f"""
WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({pairs}) q),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lbl) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.lbl FROM sym s JOIN reach r ON r.node = s.b
)
SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS component_id
FROM reach GROUP BY node
"""


@query("embedding_dup_components", oracle=_sql_embedding_components())
def q_embedding_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters in EMBEDDING space: connected components over
    the sign-LSH pair graph (cosine >= 0.99) — the same
    label-propagation loop that clusters text near-dups, proving the
    component operator is representation-agnostic (it consumes any
    (id_a, id_b) edge list). Sub-quadratic end to end: sketch-bucket
    candidates, exact verify, then diameter-bounded propagation."""
    edges = SIM.sign_lsh_pairs(
        vecs_neardup(spark, sf_dir), id_col="vec_id", vec_col="qv",
        threshold=0.99, quantized=True,
    ).select("id_a", "id_b")
    comps = DD.connected_components(edges, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("vec_id"),
        F.col("component").cast("long").alias("component_id"),
    )


@query(
    "decontaminated_train_docs",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SAMPLING.sql_split_case("doc_id")} AS split, text
  FROM documents
),
sh AS (
  SELECT doc_id, split,
         unnest(list_distinct({TX.sql_shingle_hashes("text", n=3)})) AS h
  FROM d
),
test_h AS (SELECT DISTINCT h FROM sh WHERE split = 'test'),
tainted AS (
  SELECT DISTINCT s.doc_id FROM sh s JOIN test_h t ON s.h = t.h
  WHERE s.split = 'train'
)
SELECT d.split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (WHERE tn.doc_id IS NOT NULL) AS BIGINT)
         AS n_dropped,
       CAST(COUNT(*) FILTER (WHERE tn.doc_id IS NULL) AS BIGINT) AS n_kept
FROM d LEFT JOIN tainted tn ON d.doc_id = tn.doc_id
GROUP BY 1
""",
)
def q_decontaminated_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination — the enforcement step after the contamination
    AUDIT: train documents sharing ANY distinct shingle with the test
    split are dropped (eval-leakage removal). The tainted set comes
    from a distinct-shingle semi-join (each (doc, shingle) crosses the
    wire once; 8-byte keys); enforcement is a broadcast-able anti join
    back onto the corpus. Reported per split so the gate pins both the
    drop count and that val/test are untouched."""
    d = SAMPLING.with_split(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    sh = d.select(
        "doc_id",
        "split",
        F.explode(F.array_distinct(TX.shingle_hashes(F.col("text"), n=3))).alias("h"),
    )
    test_h = sh.filter(F.col("split") == "test").select("h").distinct()
    tainted = (
        sh.filter(F.col("split") == "train")
        .join(test_h, "h")
        .select("doc_id")
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    return (
        d.join(tainted, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("dropped").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("dropped")).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Python UDAF (grouped-agg pandas_udf) surface
# ---------------------------------------------------------------------------

@query(
    "udaf_segment_weighted_balance",
    oracle="""
SELECT c_mktsegment AS segment,
       ROUND(CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                      * (c_custkey % 10 + 1)) AS DOUBLE)
             / (100.0 * SUM(c_custkey % 10 + 1)), 6) AS weighted_balance,
       CAST(SUM(c_custkey % 10 + 1) AS BIGINT) AS total_weight
FROM customer GROUP BY 1
""",
)
def q_udaf_segment_weighted_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDAF surface: a GROUPED_AGG pandas_udf computing a
    weighted mean per segment — the Arrow aggregate escape hatch for
    logic the built-ins can't express (here they could; the gate is
    about proving the surface is exact). Determinism inside the UDAF
    follows the repo convention transplanted into numpy: sum int64
    cents and int64 weights exactly, divide ONCE per group — numpy
    int64 sums are order-free, so partition order can't move the hash.
    The plan is a real partial-agg shape: Spark ships Arrow batches
    per group to one python worker per task, not per group."""
    from pyspark.sql.functions import pandas_udf

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        (F.col("c_custkey") % 10 + 1).cast("long").alias("weight"),
    )

    # pandas_udf infers GROUPED_AGG from the (Series, ...) -> scalar
    # hints. This module's annotations are strings (`from __future__
    # import annotations`), so they resolve only because `pd` is a
    # module global.
    @pandas_udf("double")
    def wmean(bal_cents: pd.Series, weight: pd.Series) -> float:
        num = int((bal_cents * weight).sum())
        den = int(weight.sum())
        return round(num / (100.0 * den), 6)

    @pandas_udf("long")
    def wsum(weight: pd.Series) -> int:
        return int(weight.sum())

    return c.groupBy("segment").agg(
        wmean(F.col("bal_cents"), F.col("weight")).alias("weighted_balance"),
        wsum(F.col("weight")).alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Scale-path twins: star-contraction components, Bloom-prefiltered
# contamination, BPE merge-pair statistics
# ---------------------------------------------------------------------------

@query("dedup_components_star", oracle=_sql_components())
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large-star/small-star twin of dedup_components: same
    MinHash-LSH edge graph, same recursive-CTE oracle, but components
    are contracted in O(log²n) rounds instead of diameter rounds
    (operators/dedup.connected_components_star). Near-dup graphs are
    shallow, so BOTH paths are cheap here — gating the star variant
    keeps the deep-graph upgrade path under per-round regression
    signal, exactly as VERDICT r01 asked for the other scale twins."""
    edges = DD.minhash_lsh_pairs(
        docs_neardup(spark, sf_dir), "doc_id", "text", n=3, threshold=0.2
    ).select("id_a", "id_b")
    comps = DD.connected_components_star(edges, "id_a", "id_b")
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("component").cast("long").alias("component_id"),
    )


@query(
    "split_contamination_bloom",
    oracle=f"""
WITH d AS (
  SELECT doc_id, {SAMPLING.sql_split_case("doc_id")} AS split, text
  FROM documents
),
sh AS (
  SELECT doc_id, split,
         unnest(list_distinct({TX.sql_shingle_hashes("text", n=3)})) AS h
  FROM d
),
train_h AS (SELECT DISTINCT h FROM sh WHERE split = 'train'),
test AS (SELECT doc_id, h FROM sh WHERE split = 'test')
SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(th.h) AS BIGINT) AS n_shared,
       ROUND(COUNT(th.h) * 1.0 / COUNT(*), 6) AS contamination
FROM test t LEFT JOIN train_h th ON t.h = th.h
GROUP BY t.doc_id
""",
)
def q_split_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_contamination with the documented Bloom pre-filter made
    real (operators/bloom.py): the train split's distinct shingle set
    aggregates into a 32 KB bitmap table (ONE bit_or hash-agg,
    broadcastable at any train size), every test shingle probes it with
    two integer hashes in codegen, and only might-contain survivors
    enter the exact h-keyed join. No false negatives ⇒ the result is
    IDENTICAL to the exact query (same oracle gates both); the win at
    100 TB is that the big shuffle's probe side shrinks to the
    contaminated fraction (plus ~1/2¹⁸-scale false positives) instead
    of every test shingle crossing the wire."""
    from bigdata_invoice_stream_analysis_spark.cache import scoped_cache
    from bigdata_invoice_stream_analysis_spark.operators import bloom as BLOOM

    d = SAMPLING.with_split(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = d.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(TX.shingle_hashes(F.col("text"), n=3))
        ).alias("h"),
    )
    # train_h feeds the bitmap AND the exact join; the bitmap feeds one
    # broadcast join PER hash function. Lazily, each consumer re-runs
    # the full train shingle pass — cache the SMALL frames (distinct
    # keys, <=4096-row bitmap), never the exploded shingle rows.
    train_h = scoped_cache(
        sh.filter(F.col("split") == "train").select("h").distinct()
    )
    bitmap = scoped_cache(BLOOM.build_bitmap(train_h, "h"))
    test = sh.filter(F.col("split") == "test").select("doc_id", "h")
    flagged = BLOOM.with_might_contain(test, bitmap, "h")
    # ONE left join with might_contain folded into the join condition:
    # definite-miss rows (might_contain=false) can never match, so they
    # flow through with hit=NULL — same result as a filter/union split,
    # but the probe pipeline (test shingles + 2 bitmap joins) is
    # evaluated once instead of once per branch.
    th = train_h.withColumn("hit", F.lit(1)).withColumnRenamed("h", "th_h")
    return (
        flagged.join(
            th,
            (F.col("h") == F.col("th_h")) & F.col("might_contain"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )


@query(
    "bpe_merge_pairs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS t FROM documents
),
pairs AS (
  SELECT t[s.i] AS tok_a, t[s.i + 1] AS tok_b
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
)
SELECT tok_a, tok_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2
ORDER BY n_pairs DESC, tok_a, tok_b
LIMIT 20
""",
)
def q_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of a BPE/WordPiece tokenizer build: corpus-wide
    adjacent-pair frequencies, top-20 merge candidates (count DESC,
    then lexicographic — fully deterministic). The bigram construction
    is two array slices zipped per row (codegen, no shuffle until the
    count); the pair count partial-aggregates map-side and the top-20
    is TakeOrderedAndProject. At 100 TB this is exactly the repeated
    inner loop of tokenizer training, so the shuffle carries (pair,
    partial count) — vocabulary-cardinality, not corpus-cardinality."""
    d = load_table(spark, sf_dir, "documents")
    toks = TX.tokenize(F.col("text"))
    npairs = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(toks, 1, npairs).alias("a"), F.slice(toks, 2, npairs).alias("b")
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "tok_a", "tok_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Tokenizer-adjacent pipeline ops: OOV audit, sequence packing,
# Gram matrix + top principal component
# ---------------------------------------------------------------------------

VOCAB_K = 50


@query(
    "vocab_oov_rate",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS token FROM documents
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
    ORDER BY cnt DESC, token ASC LIMIT {VOCAB_K}
  )
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) - COUNT(v.token) AS BIGINT) AS n_oov,
       ROUND((COUNT(*) - COUNT(v.token)) * 1.0 / COUNT(*), 6) AS oov_rate
FROM toks t LEFT JOIN vocab v ON v.token = t.token
GROUP BY 1
""",
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit: build the top-{VOCAB_K} token vocabulary
    (count DESC, token ASC — deterministic at the cut), then score every
    document's OOV token fraction against it. The vocabulary is
    corpus-reduced to K rows (TakeOrderedAndProject) and broadcast back
    — the two-phase shape of every tokenizer-coverage / UNK-rate check
    before an LLM training run. The per-doc pass joins exploded tokens
    against the broadcast vocab; counts are exact integers, the rate
    divides once per doc."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(TX.tokenize(F.col("text"))).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("in_vocab")).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.round(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


SEQ_BUDGET = 512  # tokens per packed training sequence


@query(
    "sequence_packing",
    oracle=f"""
WITH sized AS (
  SELECT doc_id, source, len({_SQL_TOKS}) AS n_tok FROM documents
),
packed AS (
  SELECT doc_id, source, n_tok,
         CAST((SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_tok)
              // {SEQ_BUDGET} AS BIGINT) AS seq_id
  FROM sized
)
SELECT source, seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM packed GROUP BY 1, 2
""",
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing (concat-and-chunk): documents are laid
    end-to-end per source in doc_id order and cut into {SEQ_BUDGET}-token
    sequences — a doc belongs to the sequence its STARTING offset falls
    in, i.e. seq_id = (running_sum - own_len) / budget. One running-sum
    window per source (a single shuffle keyed by source; at 100 TB the
    partition key widens to (source, shard) so no one source serializes)
    and one hash-agg profiling each packed sequence. Exact integer token
    offsets — both engines agree on every chunk boundary."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", F.size(TX.tokenize(F.col("text"))).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sized.withColumn(
        "seq_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / SEQ_BUDGET).cast(
            "long"
        ),
    )
    return packed.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_EMB_N = _EMB_DIM * (_EMB_DIM + 1) // 2  # upper-triangle size


@query(
    "embedding_gram_matrix",
    oracle=f"""
WITH qv AS (
  SELECT {SIM.SQL_QUANTIZE.format(v="embedding")} AS qv FROM embeddings
)
SELECT CAST(s1.i AS INT) AS dim_i, CAST(s2.j AS INT) AS dim_j,
       CAST(SUM(qv[s1.i] * qv[s2.j]) AS BIGINT) AS gram
FROM qv,
     UNNEST(generate_series(1, {_EMB_DIM})) AS s1(i),
     UNNEST(generate_series(1, {_EMB_DIM})) AS s2(j)
WHERE s2.j >= s1.i
GROUP BY 1, 2
""",
)
def q_embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus Gram matrix XᵀX (upper triangle, exact integer sums
    on the 1e-4 grid) — ONE pass over the embeddings computes the
    {_EMB_DIM}×{_EMB_DIM} sufficient statistic behind PCA, whitening, ridge
    regression, and covariance diagnostics. Per row the upper-triangle
    products are a nested array transform (codegen, {_EMB_N} values),
    posexplode + one hash-agg on the flat pair index reduces them;
    (i, j) labels come from a broadcast literal mapping. The shuffle
    carries at most {_EMB_N} × n_partitions partial sums no matter how
    many vectors exist — the reduction every distributed linear-algebra
    pass wants."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.select(SIM.quantize(F.col("embedding")).alias("qv"))
    # upper-triangle products flattened in row-major (i, j>=i) order
    prods = F.flatten(
        F.transform(
            F.col("qv"),
            lambda x, i: F.transform(
                F.slice(F.col("qv"), i + 1, F.lit(_EMB_DIM) - i), lambda y: x * y
            ),
        )
    )
    flat = qv.select(F.posexplode(prods).alias("pos", "prod"))
    sums = flat.groupBy("pos").agg(F.sum("prod").alias("gram"))
    spark_ = emb.sparkSession
    mapping = [
        (i * _EMB_DIM - i * (i - 1) // 2 + (j - i), i + 1, j + 1)
        for i in range(_EMB_DIM)
        for j in range(i, _EMB_DIM)
    ]
    mdf = spark_.createDataFrame(mapping, "pos int, dim_i int, dim_j int")
    return sums.join(F.broadcast(mdf), "pos").select("dim_i", "dim_j", "gram")


def _sql_top_pc() -> str:
    # Full power iteration replicated in SQL: the Gram matrix as a
    # 64x64 list-of-lists in ONE row, iterated by a recursive CTE whose
    # recursive term is pure scalar list arithmetic (no aggregates, so
    # it is legal in the recursion). Identical op order to the Python
    # driver loop; power iteration is contractive, so last-ulp
    # summation differences decay instead of compounding — r6 output
    # is bit-stable.
    q = SIM.SQL_QUANTIZE.format(v="embedding")
    return f"""
WITH RECURSIVE qv AS (
  SELECT {q} AS qv FROM embeddings
),
gram_flat AS (
  SELECT s1.i AS i, s2.j AS j, CAST(SUM(qv[s1.i] * qv[s2.j]) AS BIGINT) AS g
  FROM qv,
       UNNEST(generate_series(1, {_EMB_DIM})) AS s1(i),
       UNNEST(generate_series(1, {_EMB_DIM})) AS s2(j)
  GROUP BY 1, 2
),
gmat AS (
  SELECT list(glist ORDER BY i) AS G FROM (
    SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS glist
    FROM gram_flat GROUP BY i
  )
),
it AS (
  SELECT 0 AS t,
         list_transform(generate_series(1, {_EMB_DIM}), x -> CAST(1.0 AS DOUBLE)) AS v,
         CAST(0.0 AS DOUBLE) AS eig
  UNION ALL
  SELECT t + 1, list_transform(w, x -> x / nrm), nrm
  FROM (
    SELECT t, w, sqrt(list_sum(list_transform(w, x -> x * x))) AS nrm
    FROM (
      SELECT it.t AS t,
             list_transform(generate_series(1, {_EMB_DIM}), i ->
               list_sum(list_transform(generate_series(1, {_EMB_DIM}), k ->
                 G[i][k] * v[k]))) AS w
      FROM it, gmat
      WHERE it.t < 300
    )
  )
),
fin AS (
  SELECT v, eig,
         CASE WHEN len(list_filter(v, x -> x != 0)) = 0 THEN 1.0
              WHEN list_filter(v, x -> x != 0)[1] > 0 THEN 1.0
              ELSE -1.0 END AS sgn
  FROM it WHERE t = 300
)
SELECT CAST(s.d AS INT) AS dim,
       ROUND(sgn * v[s.d], 6) AS weight,
       ROUND(eig, 6) AS eigenvalue
FROM fin, UNNEST(generate_series(1, {_EMB_DIM})) AS s(d)
"""


@query("embedding_top_pc", oracle=_sql_top_pc())
def q_embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by power
    iteration on the Gram matrix: the DATA pass is the single
    Gram-reduction above (exact integers), the ITERATION runs on the
    driver over the tiny {_EMB_DIM}×{_EMB_DIM} matrix (the sanctioned
    driver pull — same size class as an IVF codebook). 300 fixed
    iterations from the all-ones start (the corpus is random-ish, so
    the eigengap is small — convergence ∝ (λ₂/λ₁)ᵗ ≈ 0.885ᵗ here;
    300 rounds of a 64×64 matvec are microseconds), sign fixed by the first
    nonzero component; integer inputs ⇒ bit-deterministic floats.
    Oracle: a recursive-CTE twin (_sql_top_pc) runs the SAME fixed
    300-step power iteration in DuckDB over the same exact-integer
    Gram matrix — identical float ops in identical order, so the
    r6-rounded output hash-matches bit-for-bit despite the algorithm
    being iterative."""
    gram_rows = q_embedding_gram_matrix(spark, sf_dir).collect()
    g = [[0.0] * _EMB_DIM for _ in range(_EMB_DIM)]
    for r in gram_rows:
        g[r.dim_i - 1][r.dim_j - 1] = float(r.gram)
        g[r.dim_j - 1][r.dim_i - 1] = float(r.gram)
    v = [1.0] * _EMB_DIM
    eig = 0.0
    for _ in range(300):
        w = [sum(g[i][k] * v[k] for k in range(_EMB_DIM)) for i in range(_EMB_DIM)]
        nrm = sum(x * x for x in w) ** 0.5
        if nrm == 0.0:
            break
        v = [x / nrm for x in w]
        eig = nrm
    sign = 1.0
    for x in v:
        if x != 0.0:
            sign = 1.0 if x > 0 else -1.0
            break
    rows = [
        (i + 1, round(sign * v[i], 6), round(eig, 6)) for i in range(_EMB_DIM)
    ]
    return spark.createDataFrame(
        rows, "dim int, weight double, eigenvalue double"
    )

@query(
    "source_temperature_mix",
    oracle="""
WITH cnt AS (
  SELECT source, COUNT(*) AS n_docs,
         SUM(n_chars) AS n_chars
  FROM documents GROUP BY 1
),
tot AS (
  SELECT SUM(n_docs) AS total_docs,
         SUM(SQRT(CAST(n_docs AS DOUBLE))) AS total_w
  FROM cnt
)
SELECT c.source,
       CAST(c.n_docs AS BIGINT) AS n_docs,
       CAST(c.n_chars AS BIGINT) AS n_chars,
       ROUND(CAST(c.n_docs AS DOUBLE) / t.total_docs, 6) AS natural_share,
       ROUND(SQRT(CAST(c.n_docs AS DOUBLE)) / t.total_w, 6) AS temp_share,
       ROUND(SQRT(CAST(c.n_docs AS DOUBLE)) / t.total_w
             / (CAST(c.n_docs AS DOUBLE) / t.total_docs), 6) AS boost
FROM cnt c CROSS JOIN tot t
""",
)
def q_source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting across corpus sources —
    the standard LLM-pretraining recipe (sample source i with
    probability proportional to n_i^alpha, alpha=0.5) that upweights
    small/rare sources relative to their natural share. Emits, per
    source, the natural share, the temperature share, and the boost
    factor a downstream weighted sampler (operators/sampling.py's
    hash-threshold samplers) would apply. Plan: one hash agg on
    source (map-side partial over any volume of documents), a 1-row
    total broadcast back — the document payload itself never
    shuffles. sqrt is IEEE correctly-rounded in both engines, and all
    shares round to 6dp per the hash convention."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = cnt.agg(
        F.sum("n_docs").alias("total_docs"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("total_w"),
    )
    w = F.sqrt(F.col("n_docs").cast("double"))
    nat = F.col("n_docs").cast("double") / F.col("total_docs")
    tmp = w / F.col("total_w")
    return cnt.join(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_chars").cast("long").alias("n_chars"),
        r6(nat).alias("natural_share"),
        r6(tmp).alias("temp_share"),
        r6(tmp / nat).alias("boost"),
    )
