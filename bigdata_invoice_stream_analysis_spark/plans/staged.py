"""The 23 late-registered rows: codebook and corpus audits over the
parsers and text gates, each registered with ``@query`` where it is
defined and parity-gated by tests/test_oracle_parity.py like every
other registered row (plans/queries.py imports this module last, so
these rows keep their place at the end of ``queries()``).

All follow one house pattern: bounded deterministic codebooks keyed
by ``doc_id % K``; closed-form DuckDB oracles computed from fixture
PARAMETERS or an independent reference implementation — never by
running the parser under test. Where a row can gate on REAL table
data instead of a codebook (the VARIANT shred over orders, the drift
histogram over events), it does — those oracles recompute from the
same tables and stay scale-covariant at any sf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.plans.queries import query
from bigdata_invoice_stream_analysis_spark.sources.tables import load_table, table_schema


# ---------------------------------------------------------------------------
# variant_order_shred — REAL-data gate: orders → JSON → VARIANT → typed
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
SELECT o_orderkey AS order_id,
       CAST(FALSE AS BOOLEAN) AS _corrupt,
       o_custkey AS cust_id,
       o_orderstatus AS status,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
"""


@query("variant_order_shred", _VARIANT_ORACLE)
def q_variant_order_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT round trip on REAL data: orders rows rendered to JSON
    strings (to_json), re-parsed with try_parse_json, and shredded
    back to typed columns with try_variant_get — the parse-once
    semi-structured path gated against the table the JSON came from.
    Money crosses as integer cents so the gate is FP-deterministic.
    Pure Column algebra; one scan, zero shuffles, zero Python."""
    from bigdata_invoice_stream_analysis_spark.functions.variantjson import (
        shred_json,
    )

    o = load_table(spark, sf_dir, "orders")
    payload = o.select(
        F.col("o_orderkey").alias("order_id"),
        F.to_json(F.struct(
            F.col("o_custkey").alias("cust"),
            F.col("o_orderstatus").alias("status"),
            # ROUND before the cast on BOTH sides: the double
            # product is bit-identical across engines, but
            # cast-to-int truncates in Spark and rounds in DuckDB
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("total_cents"),
        )).alias("body"),
    )
    return shred_json(
        payload, "body",
        [("$.cust", "bigint"), ("$.status", "string"),
         ("$.total_cents", "bigint")],
        keep=["order_id"],
    ).select(
        "order_id", "_corrupt",
        F.col("cust").alias("cust_id"), "status", "total_cents",
    )


# ---------------------------------------------------------------------------
# variant_schema_drift — REAL-data drift histogram over events
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH shapes AS (
  SELECT CASE WHEN event_id % 3 = 0 THEN 'BIGINT'
              WHEN event_id % 3 = 1 THEN 'STRING'
              ELSE 'missing' END AS value_schema
  FROM events
)
SELECT '$.uid' AS path, value_schema, COUNT(*) AS n
FROM shapes
GROUP BY value_schema
"""


@query("variant_schema_drift", _DRIFT_ORACLE)
def q_variant_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift audit on REAL data: events rendered as JSON whose
    ``uid`` field drifts by construction (int / string / absent by
    event_id % 3), then json_schema_drift must report exactly the
    constructed type histogram — recomputable by the oracle straight
    from the table.  Scale-covariant at any sf."""
    from bigdata_invoice_stream_analysis_spark.functions.variantjson import (
        json_schema_drift,
    )

    e = load_table(spark, sf_dir, "events")
    body = F.when(
        F.col("event_id") % 3 == 0,
        F.to_json(F.struct(F.col("user_id").alias("uid"))),
    ).when(
        F.col("event_id") % 3 == 1,
        F.to_json(F.struct(
            F.col("user_id").cast("string").alias("uid"))),
    ).otherwise(F.lit('{"other": 1}'))
    return json_schema_drift(
        e.select(body.alias("body")), "body", ["$.uid"])


# ---------------------------------------------------------------------------
# parquet_chunk_audit — footer audit over a writer-fixture codebook
# ---------------------------------------------------------------------------

_PQ_K = 6


def _pq_columns(k: int) -> list[tuple[str, str, list]]:
    n = 4 + (k % 3)
    ids: list = [i * (k + 1) for i in range(n)]
    if k % 2 == 1:
        ids = [None if i == 1 else v for i, v in enumerate(ids)]
    names = [f"n{k}_{i}" for i in range(n)]
    return [("id", "int64", ids), ("name", "string", names)]


def _pq_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.parquetmeta import (
        encode_parquet,
    )

    return encode_parquet(
        _pq_columns(k),
        codec="GZIP" if k % 2 == 0 else "UNCOMPRESSED",
        max_rows_per_group=3,
    )


def _pq_oracle() -> str:
    rows = []
    for k in range(_PQ_K):
        cols = _pq_columns(k)
        n = len(cols[0][2])
        codec = "GZIP" if k % 2 == 0 else "UNCOMPRESSED"
        for g, start in enumerate(range(0, n, 3)):
            for name, typ, vals in cols:
                sl = vals[start:start + 3]
                present = [v for v in sl if v is not None]
                vmin = (str(min(present)) if typ == "int64"
                        else min(present)) if present else None
                vmax = (str(max(present)) if typ == "int64"
                        else max(present)) if present else None
                q = lambda v: "NULL" if v is None else f"'{v}'"
                rows.append(
                    f"({k}, {g}, '{name}', "
                    f"'{'INT64' if typ == 'int64' else 'BYTE_ARRAY'}', "
                    f"'{codec}', {len(sl)}, "
                    f"{len(sl) - len(present)}, {q(vmin)}, {q(vmax)})"
                )
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id AS file_id, CAST(doc_id % {_PQ_K} AS INT) AS k
  FROM documents
),
cb(k, row_group, column_path, physical_type, codec, num_values,
   null_count, stat_min, stat_max) AS (VALUES {values})
SELECT file_id, CAST(row_group AS INT) AS row_group, column_path,
       physical_type, codec, CAST(num_values AS BIGINT) AS num_values,
       CAST(null_count AS BIGINT) AS null_count, stat_min, stat_max
FROM media JOIN cb USING (k)
"""


@query("parquet_chunk_audit", _pq_oracle())
def q_parquet_chunk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARQUET FOOTER AUDIT — the lakehouse control-plane read: every
    doc maps to a parquet file from a 6-variant codebook written by
    our own from-scratch writer (GZIP and UNCOMPRESSED, multi-row-
    group, optional columns); executors parse the Thrift compact
    footer (operators/parquetmeta) and emit one row per column chunk
    with decoded min/max/null statistics.  The oracle recomputes
    every chunk's stats in closed form from the fixture value lists —
    a drift anywhere in the varint/zigzag/field-header walk flips the
    hash.  Plan: bounded broadcast + map-side tail reads, 0 data
    shuffles."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.parquetmeta import (
        parquet_column_chunks,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_pq_payload(k))) for k in range(_PQ_K)],
        "k int, payload binary",
    )
    files = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _PQ_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return parquet_column_chunks(
        files.select("file_id", "payload")
    ).select("file_id", "row_group", "column_path", "physical_type",
             "codec", "num_values", "null_count", "stat_min",
             "stat_max")


# ---------------------------------------------------------------------------
# bpe_corpus_tokens — distributed training gated vs an inline reference
# ---------------------------------------------------------------------------

_BPE_K = 4
_BPE_TEXTS = [
    "the cat sat on the mat",
    "the cats sat on the mats",
    "low lower lowest slow slower",
    "a dog and a cat and a dog",
]
_BPE_MERGES_N = 12


def _bpe_reference_merges() -> list[tuple[str, str]]:
    """Independent in-module Sennrich reference (NOT
    operators/bpe): word freqs over the codebook texts, greedy
    highest-count merge with (count desc, pair asc) tie-break."""
    import re
    from collections import Counter

    freqs: Counter = Counter()
    for line in _BPE_TEXTS:
        for w in re.findall(
            r"'(?:s|t|re|ve|m|ll|d)|[^\W\d_]+|\d+|[^\w\s]+", line
        ):
            freqs[w] += 1
    vocab = {tuple(list(w[:-1]) + [w[-1] + "</w>"]): f
             for w, f in freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(_BPE_MERGES_N):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += f
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b))
        nv: dict = {}
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
            nv[tuple(out)] = nv.get(tuple(out), 0) + f
        vocab = nv
    return merges


def _bpe_segment_ref(word: str,
                     ranks: dict[tuple[str, str], int]) -> list[str]:
    syms = list(word[:-1]) + [word[-1] + "</w>"]
    while len(syms) >= 2:
        ranked = [(ranks[(syms[i], syms[i + 1])], i)
                  for i in range(len(syms) - 1)
                  if (syms[i], syms[i + 1]) in ranks]
        if not ranked:
            break
        r_min = min(r for r, _ in ranked)
        out = []
        i = 0
        while i < len(syms):
            if (i + 1 < len(syms)
                    and ranks.get((syms[i], syms[i + 1])) == r_min):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def _bpe_oracle() -> str:
    import re

    ranks = {p: i for i, p in enumerate(_bpe_reference_merges())}
    rows = []
    for k, text in enumerate(_BPE_TEXTS):
        pos = 0
        for w in re.findall(
            r"'(?:s|t|re|ve|m|ll|d)|[^\W\d_]+|\d+|[^\w\s]+", text
        ):
            for tok in _bpe_segment_ref(w, ranks):
                rows.append(f"({k}, {pos}, '{tok}')")
                pos += 1
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_BPE_K} AS INT) AS k
  FROM documents
),
cb(k, position, token) AS (VALUES {values})
SELECT doc_id, CAST(position AS INT) AS position, token
FROM media JOIN cb USING (k)
"""


@query("bpe_corpus_tokens", _bpe_oracle())
def q_bpe_corpus_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED BPE, end to end in the graded path: the merge
    table is TRAINED IN SPARK on the 4-text codebook corpus
    (operators/bpe.learn_bpe — arrays_zip pair counting, F.aggregate
    greedy fold, one-row argmax collect per iteration), then every
    doc's text (doc_id % 4 → codebook) is ENCODED with the trained
    table in Arrow batches.  The oracle re-derives the merges AND
    the per-word segmentations with an independent in-module
    Sennrich reference — training on the fixed codebook (not the
    sf-scaled corpus) keeps the merge table identical at every sf
    while the encode side stays corpus-scale."""
    from bigdata_invoice_stream_analysis_spark.operators.bpe import (
        bpe_encode,
        learn_bpe,
        word_frequencies,
    )

    corpus = spark.createDataFrame(
        [(k, t) for k, t in enumerate(_BPE_TEXTS)],
        "k long, text string",
    )
    merges = learn_bpe(
        word_frequencies(corpus, text_col="text"), _BPE_MERGES_N)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % _BPE_K).cast("int").alias("k"))
    cb = spark.createDataFrame(
        [(k, t) for k, t in enumerate(_BPE_TEXTS)],
        "k int, text string")
    docs = d.join(F.broadcast(cb), "k").select("doc_id", "text")
    return bpe_encode(docs, merges)


# ---------------------------------------------------------------------------
# streaming_content_triage — the ingestion layer under the streaming engine
# ---------------------------------------------------------------------------

# k → (format, kind, n_items) mirror of the content_triage codebook
# literals (plans/ingestion.py) — the STREAMING rollup gate needs
# only the grouping columns.
_STREAM_TRIAGE_ROWS = [
    (0, "jpeg", "image", 1), (1, "png", "image", 1),
    (2, "gif", "image", 3), (3, "webp", "image", 1),
    (4, "webp", "image", 1), (5, "wav", "audio", 600),
    (6, "mp4", "video", 3), (7, "mp4_segment", "video", None),
    (8, "webm", "video", 2), (9, "webm", "video", 2),
    (10, "warc", "web", 3), (11, "warc", "web", 3),
    (12, "gzip", None, None), (13, "zip", "archive", 3),
    (14, "tar", "archive", 2), (15, "vtt", "text", 2),
    (16, "mp3", "audio", 4), (17, "adts", "audio", 5),
    (18, "jpeg!error", None, None), (19, "unknown", None, None),
    (20, "pdf", "document", 2), (21, "pdf", "document", 0),
    (22, "ogg", "audio", 7), (23, "av1", "video", 4),
    (24, "mp3", "audio", 3), (25, "ts", "video", 6),
    (26, "m3u8", "text", 2), (27, "flac", "audio", 96000),
    (28, "avi", "video", 8), (29, "bmp", "image", 1),
    (30, "ico", "image", 2), (31, "heif", "image", 1),
    (32, "heif", "image", 2), (33, "ooxml", "document", 2),
    (34, "svg", "image", 4), (35, "feed", "web", 2),
    (36, "jsonl", "table", 3), (37, "eml", "document", 3),
    (38, "mbox", "document", 2),
    # interlaced 87a GIF, lossless + animated WebP, v2.3 MP3
    (39, "gif", "image", 1), (40, "webp", "image", 1),
    (41, "webp", "image", 3), (42, "mp3", "audio", 2),
]


def _stream_triage_oracle() -> str:
    rows = []
    for k, fmt, kind, n in _STREAM_TRIAGE_ROWS:
        kq = "NULL" if kind is None else f"'{kind}'"
        nq = "NULL" if n is None else str(n)
        rows.append(f"({k}, '{fmt}', {kq}, {nq})")
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT CAST(doc_id % {len(_STREAM_TRIAGE_ROWS)} AS INT) AS k
  FROM documents
),
cb(k, format, kind, n_items) AS (VALUES {values})
SELECT format, kind, COUNT(*) AS n_blobs,
       SUM(n_items) AS items_total
FROM media JOIN cb USING (k)
GROUP BY format, kind
"""


@query("streaming_content_triage", _stream_triage_oracle())
def q_streaming_content_triage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE INGESTION LAYER UNDER THE STREAMING ENGINE: binary blobs
    arrive as a parquet file-source STREAM (documents), join the
    broadcast triage codebook stream-static, run the full magic-byte
    dispatch (operators/sniff.content_triage — ~15 parsers) inside
    streaming mapInPandas, and a complete-mode aggregation maintains
    the running per-(format, kind) blob and item counts a continuous
    curation pipeline monitors. The availableNow drain's final
    snapshot must equal the batch rollup the oracle computes in
    closed form — stateless Arrow UDFs + stateful agg over BINARY
    payloads, proven equivalent to the declarative answer."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.sniff import (
        content_triage,
    )
    from bigdata_invoice_stream_analysis_spark.plans.ingestion import (
        _TRIAGE_K,
        _triage_payload,
    )
    from bigdata_invoice_stream_analysis_spark.plans.queries import (
        _drain_input_diet,
        _run_drain,
    )
    from bigdata_invoice_stream_analysis_spark.scratch import (
        fresh_checkpoint,
    )

    ensure_package_on_workers(spark)
    raw_schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    codebook = spark.createDataFrame(
        [(k, bytearray(_triage_payload(k))) for k in range(_TRIAGE_K)],
        "k int, payload binary",
    )
    media = stream.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % _TRIAGE_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    agg = (
        content_triage(media.select("media_id", "payload"))
        .groupBy("format", "kind")
        .agg(F.count(F.lit(1)).alias("n_blobs"),
             F.sum("n_items").alias("items_total"))
    )
    acc: list = []

    def sink(bdf, _bid):
        acc.clear()
        acc.extend(bdf.collect())

    ckpt = fresh_checkpoint("stream_triage_ckpt_")
    writer = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("format", T.StringType(), False),
        T.StructField("kind", T.StringType(), True),
        T.StructField("n_blobs", T.LongType(), False),
        T.StructField("items_total", T.LongType(), True),
    ])
    return spark.createDataFrame(
        [(r["format"], r["kind"], r["n_blobs"], r["items_total"])
         for r in acc],
        schema,
    )


# ---------------------------------------------------------------------------
# pdf_text_extract — ISO 32000-1 salvage walk + ObjStm + text ops
# ---------------------------------------------------------------------------

_PDF_K = 4


def _pdf_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.pdf import (
        encode_minimal_pdf,
    )

    if k == 0:
        return encode_minimal_pdf(
            ["Alpha line one\nBeta line two", "Gamma page two"],
            title="Spec Sheet", flate=True,
        )
    if k == 1:
        return encode_minimal_pdf(
            ["Hidden until ObjStm expansion"],
            producer="objstm-writer", objstm=True,
        )
    if k == 2:
        return encode_minimal_pdf(
            ["kerned words here"], flate=False, use_tj_array=True,
        )
    return encode_minimal_pdf([], title="Empty Doc")


def _pdf_oracle() -> str:
    producer = "bigdata-invoice-stream-analysis-spark"
    nl = "' || chr(10) || '"
    rows = [
        f"(0, '1.4', FALSE, 2, 0, 'Alpha line one{nl}Beta line two',"
        f" 28, NULL, 'Spec Sheet', '{producer}')",
        f"(0, '1.4', FALSE, 2, 1, 'Gamma page two', 14, NULL,"
        f" 'Spec Sheet', '{producer}')",
        "(1, '1.5', FALSE, 1, 0, 'Hidden until ObjStm expansion',"
        " 29, NULL, NULL, 'objstm-writer')",
        f"(2, '1.4', FALSE, 1, 0, 'kerned words here', 17, NULL,"
        f" NULL, '{producer}')",
        f"(3, '1.4', FALSE, 0, NULL, NULL, NULL, NULL, 'Empty Doc',"
        f" '{producer}')",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_PDF_K} AS INT) AS k FROM documents
),
cb(k, version, encrypted, n_pages, page_idx, text, n_chars,
   page_error, title, producer) AS (VALUES {values})
SELECT doc_id, version, encrypted, CAST(n_pages AS INT) AS n_pages,
       CAST(page_idx AS INT) AS page_idx, text,
       CAST(n_chars AS INT) AS n_chars, page_error, title, producer
FROM media JOIN cb USING (k)
"""


@query("pdf_text_extract", _pdf_oracle())
def q_pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF TEXT EXTRACTION — the from-scratch ISO 32000-1 walk
    (operators/pdf): classic-xref flate documents, the modern
    /ObjStm layout that is invisible without §7.5.7 expansion, TJ
    kerning-array spacing, and a zero-page document that must still
    yield its metadata row. Page text round-trips the fixture's own
    page strings, so the oracle pins the input literals — never the
    parser's output.  Map-side mapInPandas; 0 data shuffles."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.pdf import (
        pdf_text_pages,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_pdf_payload(k))) for k in range(_PDF_K)],
        "k int, payload binary",
    )
    docs = d.select(
        "doc_id", (F.col("doc_id") % _PDF_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return pdf_text_pages(docs.select("doc_id", "payload"))


# ---------------------------------------------------------------------------
# pii_audit — detector counts + Luhn + typed redaction, zero Python
# ---------------------------------------------------------------------------

_PII_K = 6

_PII_TEXTS = [
    "Contact alice@example.com or bob.smith+tag@sub.domain.org",
    "Server 10.0.0.1 up, 999.1.1.1 is not an address",
    "Call +14155550123 or (212) 555-0199",
    "SSN 123-45-6789 on file",
    "Pay 4111 1111 1111 1111 or 4111-1111-1111-1112",
    "No sensitive data here.",
]


def _pii_oracle() -> str:
    # (k, n_emails, n_ipv4, n_phones, n_ssn, n_card_candidates,
    #  n_card_valid, has_pii, redacted) — counts and redactions are
    # closed-form properties of the planted literals; the second
    # card number fails Luhn by construction (mutated check digit).
    rows = [
        "(0, 2, 0, 0, 0, 0, 0, TRUE,"
        " 'Contact <EMAIL> or <EMAIL>')",
        "(1, 0, 1, 0, 0, 0, 0, TRUE,"
        " 'Server <IP> up, 999.1.1.1 is not an address')",
        "(2, 0, 0, 2, 0, 0, 0, TRUE, 'Call <PHONE> or <PHONE>')",
        "(3, 0, 0, 0, 1, 0, 0, TRUE, 'SSN <SSN> on file')",
        "(4, 0, 0, 0, 0, 2, 1, TRUE, 'Pay <CC> or <CC>')",
        "(5, 0, 0, 0, 0, 0, 0, FALSE, 'No sensitive data here.')",
    ]
    values = ",\n  ".join(rows)
    texts = ",\n  ".join(
        f"({k}, '{t.replace(chr(39), chr(39) * 2)}')"
        for k, t in enumerate(_PII_TEXTS)
    )
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_PII_K} AS INT) AS k FROM documents
),
tx(k, text) AS (VALUES {texts}),
cb(k, n_emails, n_ipv4, n_phones, n_ssn, n_card_candidates,
   n_card_valid, has_pii, redacted) AS (VALUES {values})
SELECT doc_id, text, CAST(n_emails AS INT) AS n_emails,
       CAST(n_ipv4 AS INT) AS n_ipv4,
       CAST(n_phones AS INT) AS n_phones,
       CAST(n_ssn AS INT) AS n_ssn,
       CAST(n_card_candidates AS INT) AS n_card_candidates,
       CAST(n_card_valid AS INT) AS n_card_valid, has_pii, redacted
FROM media JOIN tx USING (k) JOIN cb USING (k)
"""


@query("pii_audit", _pii_oracle())
def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII AUDIT — the release-gating privacy scan
    (functions/pii.py) as pure Column algebra: email/IPv4/phone/SSN
    detectors with validity enforced in the regex (999.* quads do
    not count), payment-card candidates validated with a REAL Luhn
    checksum computed via an ``aggregate`` fold over the reversed
    digit sequence (the mutated-check-digit fixture must fail), and
    typed-placeholder redaction pinned byte-for-byte. Zero Python in
    the plan (tests/test_pii.py pins no-PythonUDF); map-side,
    whole-stage codegen, 0 data shuffles — the pass that runs
    immediately before corpus export at 100 TB."""
    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        pii_audit,
    )

    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        list(enumerate(_PII_TEXTS)), "k int, text string",
    )
    docs = d.select(
        "doc_id", (F.col("doc_id") % _PII_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    out = pii_audit(docs.select("doc_id", "text"))
    return out.select(
        "doc_id", "text", "n_emails", "n_ipv4", "n_phones", "n_ssn",
        "n_card_candidates", "n_card_valid", "has_pii", "redacted",
    )


# ---------------------------------------------------------------------------
# lm_support_audit — n-gram LM quality statistics on REAL data
# ---------------------------------------------------------------------------

_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, u[1] AS w1, u[2] AS w2
  FROM toks,
  UNNEST(list_zip(t[1:length(t)-1], t[2:length(t)])) AS x(u)
),
model AS (
  SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(cnt) AS support_sum,
         SUM(CASE WHEN cnt < 2 THEN 1 ELSE 0 END) AS n_rare
  FROM bg JOIN model USING (w1, w2)
  GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(p.support_sum, 0) AS BIGINT) AS support_sum,
       CAST(COALESCE(p.n_rare, 0) AS BIGINT) AS n_rare
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("lm_support_audit", _LM_ORACLE)
def q_lm_support_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM LM QUALITY STATISTICS on REAL data — the CCNet/Gopher
    model-based quality filter's deterministic core
    (functions/ngram_lm.lm_support): tokenize → bigram explosion →
    corpus bigram counts (one map-combined shuffle) → per-document
    support join → integer statistics (bigram volume, summed corpus
    support, rare-bigram count). Gated against a DuckDB twin that
    recomputes the same model from the same table — scale-covariant
    at any sf, no codebook. The floating add-k log-prob surface
    rides the same plan and is unit-tested with tolerance instead
    (tests/test_ngram_lm.py). Zero Python anywhere in the plan."""
    from bigdata_invoice_stream_analysis_spark.functions.ngram_lm import (
        lm_support,
    )

    d = load_table(spark, sf_dir, "documents")
    return lm_support(d.select("doc_id", "text"))


# ---------------------------------------------------------------------------
# warc_link_graph — hyperlink edge list with RFC 3986 §5 resolution
# ---------------------------------------------------------------------------

_LG_K = 2


def _lg_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        encode_http_response,
        encode_warc,
    )

    if k == 0:
        html = (
            b"<html><body>"
            b'<a href="/about">About</a>'
            b'<a href="sub/page.html">Rel</a>'
            b'<a href="https://other.example/x">Ext</a>'
            b'<a href="mailto:x@y.z">Mail</a>'
            b"</body></html>"
        )
        return encode_warc([
            ("response",
             {"WARC-Target-URI":
              "http://site.example/dir/index.html",
              "Content-Type": "application/http; msgtype=response"},
             encode_http_response(
                 200, "OK", {"Content-Type": "text/html"}, html)),
        ])
    html = (
        b"<html><body>"
        b'<a href="../up">Up</a>'
        b'<a href="./same">Same</a>'
        b'<a href="//cdn.example/lib.js">CDN</a>'
        b'<a href="#top">Top</a>'
        b'<a href="HTTPS://Other.Example/Path/../x">Shout</a>'
        b"</body></html>"
    )
    return encode_warc([
        ("warcinfo", {"WARC-Record-ID": "<urn:uuid:lg>"},
         b"software: fixture"),
        ("response",
         {"WARC-Target-URI": "http://www.blog.co.uk/gone",
          "Content-Type": "application/http; msgtype=response"},
         encode_http_response(
             404, "Not Found", {"Content-Type": "text/html"},
             b"<html>gone</html>")),
        ("response",
         {"WARC-Target-URI": "http://www.blog.co.uk/a/b/page?x=1",
          "Content-Type": "application/http; msgtype=response"},
         encode_http_response(
             200, "OK", {"Content-Type": "text/html"}, html)),
    ], gzip_members=True)


def _lg_oracle() -> str:
    s0 = "http://site.example/dir/index.html"
    s1 = "http://www.blog.co.uk/a/b/page?x=1"
    rows = [
        f"(0, 0, '{s0}', 'site.example', 0, '/about',"
        f" 'http://site.example/about', 'site.example', TRUE)",
        f"(0, 0, '{s0}', 'site.example', 1, 'sub/page.html',"
        f" 'http://site.example/dir/sub/page.html', 'site.example',"
        f" TRUE)",
        f"(0, 0, '{s0}', 'site.example', 2,"
        f" 'https://other.example/x', 'https://other.example/x',"
        f" 'other.example', FALSE)",
        f"(0, 0, '{s0}', 'site.example', 3, 'mailto:x@y.z', NULL,"
        f" NULL, NULL)",
        f"(1, 2, '{s1}', 'blog.co.uk', 0, '../up',"
        f" 'http://www.blog.co.uk/a/up', 'blog.co.uk', TRUE)",
        f"(1, 2, '{s1}', 'blog.co.uk', 1, './same',"
        f" 'http://www.blog.co.uk/a/b/same', 'blog.co.uk', TRUE)",
        f"(1, 2, '{s1}', 'blog.co.uk', 2, '//cdn.example/lib.js',"
        f" 'http://cdn.example/lib.js', 'cdn.example', FALSE)",
        f"(1, 2, '{s1}', 'blog.co.uk', 3, '#top',"
        f" 'http://www.blog.co.uk/a/b/page?x=1', 'blog.co.uk',"
        f" TRUE)",
        f"(1, 2, '{s1}', 'blog.co.uk', 4,"
        f" 'HTTPS://Other.Example/Path/../x',"
        f" 'https://other.example/x', 'other.example', FALSE)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id AS archive_id, CAST(doc_id % {_LG_K} AS INT) AS k
  FROM documents
),
cb(k, record_idx, src_url, src_domain, anchor_idx, href, dst_url,
   dst_domain, internal) AS (VALUES {values})
SELECT archive_id, CAST(record_idx AS INT) AS record_idx, src_url,
       src_domain, CAST(anchor_idx AS INT) AS anchor_idx, href,
       dst_url, dst_domain, internal
FROM media JOIN cb USING (k)
"""


@query("warc_link_graph", _lg_oracle())
def q_warc_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEB LINK GRAPH — one edge per hyperlink in 2xx HTML response
    records (operators/warc.link_graph): hrefs resolved against the
    page URI with the strict RFC 3986 §5.2.2 transform (relative,
    dot-segment, protocol-relative, fragment-only and absolute forms
    all planted), normalized per §6, and keyed by registered domain
    with the internal/external bit. Non-crawlable hrefs (mailto:)
    keep NULL destinations; non-2xx and non-HTML records contribute
    nothing. (archive_id, anchor_idx) leads the sorted column list
    as the unique non-null sort prefix (PERF §40/§44). Map-side; 0
    data shuffles — the domain-edge rollup a quality pipeline runs
    next is the first shuffle, on (src_domain, dst_domain)."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        link_graph,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_lg_payload(k))) for k in range(_LG_K)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("archive_id"),
        (F.col("doc_id") % _LG_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return link_graph(
        media.select("archive_id", "payload")
    ).withColumnRenamed("link_idx", "anchor_idx")


# ---------------------------------------------------------------------------
# corpus_release_gate — the composed keep/drop verdict on REAL data
# ---------------------------------------------------------------------------


def _release_oracle() -> str:
    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        CARD_RE,
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        SSN_RE,
    )
    from bigdata_invoice_stream_analysis_spark.functions.release import (
        RARE_DENOM,
    )
    from bigdata_invoice_stream_analysis_spark.functions.text import (
        sql_gopher_quality_flags,
    )

    gopher = sql_gopher_quality_flags("text")["gopher_pass"]
    pii = " OR ".join(
        f"len(regexp_extract_all(text, '{pat}')) > 0"
        for pat in (EMAIL_RE, IPV4_RE, PHONE_RE, SSN_RE, CARD_RE)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, u[1] AS w1, u[2] AS w2
  FROM toks,
  UNNEST(list_zip(t[1:length(t)-1], t[2:length(t)])) AS x(u)
),
model AS (
  SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2
),
lm AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CASE WHEN cnt < 2 THEN 1 ELSE 0 END) AS n_rare
  FROM bg JOIN model USING (w1, w2)
  GROUP BY doc_id
),
sig AS (
  SELECT d.doc_id,
         {gopher} AS gopher_pass,
         ({pii}) AS has_pii,
         CAST(COALESCE(lm.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(lm.n_rare, 0) AS BIGINT) AS n_rare
  FROM documents d LEFT JOIN lm USING (doc_id)
)
SELECT doc_id,
       (gopher_pass AND NOT has_pii AND rare_ok) AS keep,
       concat_ws(',',
         CASE WHEN NOT gopher_pass THEN 'quality' END,
         CASE WHEN has_pii THEN 'pii' END,
         CASE WHEN NOT rare_ok THEN 'rare_ngrams' END) AS reasons,
       gopher_pass, has_pii, rare_ok, n_bigrams, n_rare
FROM (
  SELECT *, (n_bigrams > 0 AND n_rare * {RARE_DENOM} <= n_bigrams)
         AS rare_ok
  FROM sig
)
"""


@query("corpus_release_gate", _release_oracle())
def q_corpus_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS RELEASE GATE on REAL data — the composed keep/drop
    verdict every curation pipeline ends in
    (functions/release.corpus_release_gate): Gopher quality rules ∧
    no PII ∧ n-gram-LM support, with a fixed-order ``reasons``
    string naming the failed gates so the funnel report is a plain
    groupBy. All three signals recomputed independently by the
    DuckDB twin from the same table (the PII twin runs the same five
    regexes; the LM twin retrains the same bigram model) —
    scale-covariant at any sf, every output column
    boolean/integer/string. One Catalyst plan: Gopher+PII map-side
    on the scan, the LM's three bounded exchanges, a doc_id join."""
    from bigdata_invoice_stream_analysis_spark.functions.release import (
        corpus_release_gate,
    )

    d = load_table(spark, sf_dir, "documents")
    return corpus_release_gate(d.select("doc_id", "text"))


# ---------------------------------------------------------------------------
# streaming_pii_monitor — the privacy gate under the streaming engine
# ---------------------------------------------------------------------------


def _stream_pii_oracle() -> str:
    # (k, n_emails, n_ipv4, n_phones, n_ssn, n_card_valid, has_pii)
    # mirrors the _PII_TEXTS literals pinned by the pii_audit gate.
    rows = [
        "(0, 2, 0, 0, 0, 0, TRUE)",
        "(1, 0, 1, 0, 0, 0, TRUE)",
        "(2, 0, 0, 2, 0, 0, TRUE)",
        "(3, 0, 0, 0, 1, 0, TRUE)",
        "(4, 0, 0, 0, 0, 1, TRUE)",
        "(5, 0, 0, 0, 0, 0, FALSE)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT CAST(doc_id % {_PII_K} AS INT) AS k FROM documents
),
cb(k, n_emails, n_ipv4, n_phones, n_ssn, n_card_valid, has_pii)
  AS (VALUES {values})
SELECT has_pii, COUNT(*) AS n_docs,
       CAST(SUM(n_emails) AS BIGINT) AS sum_emails,
       CAST(SUM(n_ipv4) AS BIGINT) AS sum_ipv4,
       CAST(SUM(n_phones) AS BIGINT) AS sum_phones,
       CAST(SUM(n_ssn) AS BIGINT) AS sum_ssn,
       CAST(SUM(n_card_valid) AS BIGINT) AS sum_card_valid
FROM media JOIN cb USING (k)
GROUP BY has_pii
"""


@query("streaming_pii_monitor", _stream_pii_oracle())
def q_streaming_pii_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE PRIVACY GATE UNDER THE STREAMING ENGINE — documents
    arrive as a parquet file-source stream, join the broadcast PII
    codebook stream-static, run the full detector set
    (functions/pii.pii_audit — regex detectors + the Luhn expression
    fold, still zero Python) statelessly inside the stream, and a
    complete-mode aggregation maintains the running privacy monitor
    (doc and detector-hit totals split by has_pii) a continuous
    ingestion pipeline alerts on. The availableNow drain's final
    snapshot must equal the closed-form batch rollup."""
    from pyspark.sql import types as T

    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        pii_audit,
    )
    from bigdata_invoice_stream_analysis_spark.plans.queries import (
        _drain_input_diet,
        _run_drain,
    )
    from bigdata_invoice_stream_analysis_spark.scratch import (
        fresh_checkpoint,
    )

    raw_schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    codebook = spark.createDataFrame(
        list(enumerate(_PII_TEXTS)), "k int, text string",
    )
    docs = stream.select(
        "doc_id", (F.col("doc_id") % _PII_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    agg = (
        pii_audit(docs.select("doc_id", "text"))
        .groupBy("has_pii")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("sum_emails"),
            F.sum("n_ipv4").alias("sum_ipv4"),
            F.sum("n_phones").alias("sum_phones"),
            F.sum("n_ssn").alias("sum_ssn"),
            F.sum("n_card_valid").alias("sum_card_valid"),
        )
    )
    acc: list = []

    def sink(bdf, _bid):
        acc.clear()
        acc.extend(bdf.collect())

    ckpt = fresh_checkpoint("stream_pii_ckpt_")
    writer = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    schema = T.StructType([
        T.StructField("has_pii", T.BooleanType(), False),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("sum_emails", T.LongType(), False),
        T.StructField("sum_ipv4", T.LongType(), False),
        T.StructField("sum_phones", T.LongType(), False),
        T.StructField("sum_ssn", T.LongType(), False),
        T.StructField("sum_card_valid", T.LongType(), False),
    ])
    return spark.createDataFrame(list(acc), schema)


# ---------------------------------------------------------------------------
# image_phash_audit — perceptual hashes pinned to a naive reference
# ---------------------------------------------------------------------------

_PH_K = 5
_PH_W, _PH_H = 32, 24


def _ph_pixels(k: int) -> bytes:
    if k == 0 or k == 4:  # k=4 ships the same pixels in a PNG
        return bytes((x * 7 + y * 3) % 200
                     for y in range(_PH_H) for x in range(_PH_W))
    if k == 1:  # +25 brightness, no clipping → identical hashes
        return bytes((x * 7 + y * 3) % 200 + 25
                     for y in range(_PH_H) for x in range(_PH_W))
    if k == 2:  # local patch flipped → a few hash bits move
        base = bytearray((x * 7 + y * 3) % 200
                         for y in range(_PH_H) for x in range(_PH_W))
        for y in range(8):
            for x in range(8):
                base[y * _PH_W + x] = 255 - base[y * _PH_W + x]
        return bytes(base)
    return bytes((x * x + 3 * y) % 251
                 for y in range(_PH_H) for x in range(_PH_W))


def _ph_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        encode_png,
        encode_pnm,
    )

    pix = _ph_pixels(k)
    if k == 4:
        return encode_png(_PH_W, _PH_H, pix)
    return encode_pnm(_PH_W, _PH_H, pix)


def _ph_reference(k: int) -> tuple[int, int]:
    """Naive, loop-based dHash/aHash reference — independent of
    operators/imagehash (no numpy, no prefix sums): the oracle's
    implementation of the exact-integer spec."""
    pix = _ph_pixels(k)
    g = [[pix[y * _PH_W + x] for x in range(_PH_W)]
         for y in range(_PH_H)]

    def grid(nx: int, ny: int):
        out = []
        for j in range(ny):
            row = []
            for i in range(nx):
                x0, x1 = i * _PH_W // nx, (i + 1) * _PH_W // nx
                y0, y1 = j * _PH_H // ny, (j + 1) * _PH_H // ny
                s = sum(g[y][x] for y in range(y0, y1)
                        for x in range(x0, x1))
                row.append(s // ((x1 - x0) * (y1 - y0)))
            out.append(row)
        return out

    gd = grid(9, 8)
    d = 0
    for j in range(8):
        for i in range(8):
            d = (d << 1) | (1 if gd[j][i] < gd[j][i + 1] else 0)
    ga = grid(8, 8)
    mean = sum(sum(r) for r in ga) // 64
    a = 0
    for j in range(8):
        for i in range(8):
            a = (a << 1) | (1 if ga[j][i] > mean else 0)

    def signed(v: int) -> int:
        return v - (1 << 64) if v >= (1 << 63) else v

    return signed(d), signed(a)


def _ph_oracle() -> str:
    rows = []
    for k in range(_PH_K):
        d, a = _ph_reference(k)
        rows.append(f"({k}, {_PH_W}, {_PH_H}, {d}, {a})")
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % {_PH_K} AS INT) AS k
  FROM documents
),
cb(k, width, height, dhash, ahash) AS (VALUES {values})
SELECT media_id, CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(dhash AS BIGINT) AS dhash,
       CAST(ahash AS BIGINT) AS ahash
FROM media JOIN cb USING (k)
"""


@query("image_phash_audit", _ph_oracle())
def q_image_phash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTUAL IMAGE HASHES — the visual-dedup signature
    (operators/imagehash.image_phash): exact-integer dHash/aHash
    over decoded PGM and PNG pixels. The codebook plants the
    invariance structure a dedup pass exploits (a brightness-shifted
    copy and a PNG re-container hash IDENTICALLY to the base image;
    a patch-flipped variant lands a few bits away; an unrelated
    pattern lands far) and the oracle pins every 64-bit hash with an
    independent naive loop-based reference implementation of the
    same spec — the banded Hamming pair join over these hashes is
    plan-pinned and brute-force-verified in tests/test_imagehash.py.
    Map-side; 0 data shuffles, 1 bounded broadcast."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.imagehash import (
        image_phash,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_ph_payload(k))) for k in range(_PH_K)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % _PH_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return image_phash(media.select("media_id", "payload"))


# ---------------------------------------------------------------------------
# crawl_frontier_gate — sitemaps explode ∘ robots verdicts, composed
# ---------------------------------------------------------------------------

_CF_K = 2

_CF_ROBOTS = (
    "User-agent: *\n"
    "Disallow: /private/\n"
    "Allow: /private/ok\n"
    "Disallow: /*.pdf$\n"
    "Crawl-delay: 2\n"
)


def _cf_payload(k: int) -> bytes:
    import gzip as _gzip

    if k == 0:
        return (
            b"<urlset>"
            b"<url><loc>https://a.example/</loc></url>"
            b"<url><loc>https://a.example/private/x</loc></url>"
            b"<url><loc>https://a.example/private/ok</loc></url>"
            b"<url><loc>https://b.example/page</loc></url>"
            b"</urlset>"
        )
    xml = (
        b"<urlset><url><loc>https://a.example/doc.pdf</loc></url>"
        b"</urlset>"
    )
    return _gzip.compress(xml, 9, mtime=0)


def _cf_oracle() -> str:
    rows = [
        "(0, 'a.example', '/', TRUE, TRUE, NULL, 2.0)",
        "(0, 'a.example', '/private/x', TRUE, FALSE, '/private/',"
        " 2.0)",
        "(0, 'a.example', '/private/ok', TRUE, TRUE, '/private/ok',"
        " 2.0)",
        "(0, 'b.example', '/page', FALSE, TRUE, NULL, NULL)",
        "(1, 'a.example', '/doc.pdf', TRUE, FALSE, '/*.pdf$', 2.0)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id AS archive_id, CAST(doc_id % {_CF_K} AS INT) AS k
  FROM documents
),
cb(k, entry_host, entry_path, has_robots, is_allowed, matched_rule,
   robots_delay) AS (VALUES {values})
SELECT archive_id, entry_host, entry_path, has_robots, is_allowed,
       matched_rule, CAST(robots_delay AS DOUBLE) AS robots_delay
FROM media JOIN cb USING (k)
"""


@query("crawl_frontier_gate", _cf_oracle())
def q_crawl_frontier_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL FRONTIER, COMPOSED — the governance pipeline end to
    end: sitemap documents (plain and .xml.gz) explode to candidate
    URLs (operators/robots.sitemap_urls), hosts/paths split with JVM
    regex, and every URL gets its RFC 9309 verdict through the
    broadcast robots gate (robots_url_gate) — longest-match with
    allow-wins-ties, a ``$``-anchored wildcard pattern, per-group
    crawl delay, and the absent-robots host staying allowed with
    has_robots=false so the two kinds of 'allowed' stay separable.
    (archive_id, entry_host, entry_path) is the unique non-null sort
    prefix (PERF §40/§44). One bounded broadcast each for the
    codebook and the robots side; zero shuffles on the URL side."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.robots import (
        robots_url_gate,
        sitemap_urls,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_cf_payload(k))) for k in range(_CF_K)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("sitemap_id"),
        (F.col("doc_id") % _CF_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    urls = sitemap_urls(
        media.select("sitemap_id", "payload")
    ).filter(~F.col("is_index")).select(
        F.col("sitemap_id").alias("url_id"),
        F.regexp_extract("loc", "^[a-z]+://([^/]+)", 1).alias("host"),
        F.regexp_extract("loc", "^[a-z]+://[^/]+(/.*)$", 1)
        .alias("path"),
    )
    robots = spark.createDataFrame(
        [("a.example", _CF_ROBOTS)], "host string, robots_txt string",
    )
    return robots_url_gate(urls, robots, agent="testbot").select(
        F.col("url_id").alias("archive_id"),
        F.col("host").alias("entry_host"),
        F.col("path").alias("entry_path"),
        "has_robots",
        F.col("allowed").alias("is_allowed"),
        "matched_rule",
        F.col("crawl_delay").alias("robots_delay"),
    )


# ---------------------------------------------------------------------------
# domain_link_profile — the per-domain rollup of the link graph
# ---------------------------------------------------------------------------


def _dlp_oracle() -> str:
    # Closed-form rollup of the warc_link_graph codebook: per
    # (k, src_domain): total links, internal/external split, crawlable
    # destinations, distinct destination domains.
    rows = [
        # k=0: 4 links — 2 internal, 1 external, 1 non-crawlable
        "(0, 'site.example', 4, 2, 1, 3, 2)",
        # k=1: 5 links — 3 internal, 2 external, all crawlable
        "(1, 'blog.co.uk', 5, 3, 2, 5, 3)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id AS archive_id, CAST(doc_id % {_LG_K} AS INT) AS k
  FROM documents
),
cb(k, src_domain, n_links, n_internal, n_external, n_crawlable,
   n_dst_domains) AS (VALUES {values})
SELECT archive_id, src_domain,
       CAST(n_links AS BIGINT) AS n_links,
       CAST(n_internal AS BIGINT) AS n_internal,
       CAST(n_external AS BIGINT) AS n_external,
       CAST(n_crawlable AS BIGINT) AS n_crawlable,
       CAST(n_dst_domains AS BIGINT) AS n_dst_domains
FROM media JOIN cb USING (k)
"""


@query("domain_link_profile", _dlp_oracle())
def q_domain_link_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOMAIN LINK PROFILE — the rollup a page-quality prior is
    built from: the link-graph edge list (same codebook as
    warc_link_graph) aggregated per (archive, source domain) into
    link volume, the internal/external split, crawlable-destination
    count, and distinct destination domains. This is the first
    shuffle of the link-graph path, keyed exactly where it belongs —
    (archive_id, src_domain) — with map-side partial aggregation;
    the NULL-destination mailto: edge counts in n_links but not in
    n_crawlable, so link accounting stays complete."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.warc import (
        link_graph,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_lg_payload(k))) for k in range(_LG_K)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("archive_id"),
        (F.col("doc_id") % _LG_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    edges = link_graph(media.select("archive_id", "payload"))
    return edges.groupBy("archive_id", "src_domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.sum(F.when(F.col("internal"), 1).otherwise(0))
        .alias("n_internal"),
        F.sum(F.when(~F.col("internal"), 1).otherwise(0))
        .alias("n_external"),
        F.sum(F.when(F.col("dst_url").isNotNull(), 1).otherwise(0))
        .alias("n_crawlable"),
        F.count_distinct("dst_domain").alias("n_dst_domains"),
    )


# ---------------------------------------------------------------------------
# source_mixture_plan — temperature-scaled source mixing on REAL data
# ---------------------------------------------------------------------------


def _mix_oracle() -> str:
    from bigdata_invoice_stream_analysis_spark.operators.sampling import (
        sql_source_mixture_plan,
    )

    return sql_source_mixture_plan()


@query("source_mixture_plan", _mix_oracle())
def q_source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE MIXTURE PLAN on REAL data — the per-source sampling
    weights multi-corpus training mixes with (w ∝ share^0.5,
    up-weighting small high-quality sources): exact integer token
    volumes, one-division shares, sqrt scaling (correctly rounded in
    IEEE 754 — the reason τ is pinned at 0.5 instead of a libm pow),
    and 1e-9-grid quantization BEFORE the normalizing sum so the
    denominator is an exact BIGINT in both engines. Scale-covariant
    at any sf; the DuckDB twin recomputes the plan from the same
    table. One map-combined aggregate + two broadcast scalars."""
    from bigdata_invoice_stream_analysis_spark.operators.sampling import (
        source_mixture_plan,
    )

    d = load_table(spark, sf_dir, "documents")
    return source_mixture_plan(d.select("source", "text"))


# ---------------------------------------------------------------------------
# streaming_release_monitor — batch-trained signals, streamed verdicts
# ---------------------------------------------------------------------------


def _stream_release_oracle() -> str:
    # The batch release gate's verdict rollup — the streaming drain's
    # final snapshot must equal it exactly.
    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        CARD_RE,
        EMAIL_RE,
        IPV4_RE,
        PHONE_RE,
        SSN_RE,
    )
    from bigdata_invoice_stream_analysis_spark.functions.release import (
        RARE_DENOM,
    )
    from bigdata_invoice_stream_analysis_spark.functions.text import (
        sql_gopher_quality_flags,
    )

    gopher = sql_gopher_quality_flags("text")["gopher_pass"]
    pii = " OR ".join(
        f"len(regexp_extract_all(text, '{pat}')) > 0"
        for pat in (EMAIL_RE, IPV4_RE, PHONE_RE, SSN_RE, CARD_RE)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
  FROM documents
),
bg AS (
  SELECT doc_id, u[1] AS w1, u[2] AS w2
  FROM toks,
  UNNEST(list_zip(t[1:length(t)-1], t[2:length(t)])) AS x(u)
),
model AS (
  SELECT w1, w2, COUNT(*) AS cnt FROM bg GROUP BY w1, w2
),
lm AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         SUM(CASE WHEN cnt < 2 THEN 1 ELSE 0 END) AS n_rare
  FROM bg JOIN model USING (w1, w2)
  GROUP BY doc_id
),
verdicts AS (
  SELECT d.doc_id,
         {gopher} AS gopher_pass,
         ({pii}) AS has_pii,
         (COALESCE(lm.n_bigrams, 0) > 0 AND
          COALESCE(lm.n_rare, 0) * {RARE_DENOM}
            <= COALESCE(lm.n_bigrams, 0)) AS rare_ok
  FROM documents d LEFT JOIN lm USING (doc_id)
)
SELECT (gopher_pass AND NOT has_pii AND rare_ok) AS keep,
       concat_ws(',',
         CASE WHEN NOT gopher_pass THEN 'quality' END,
         CASE WHEN has_pii THEN 'pii' END,
         CASE WHEN NOT rare_ok THEN 'rare_ngrams' END) AS reasons,
       COUNT(*) AS n_docs
FROM verdicts
GROUP BY 1, 2
"""


@query("streaming_release_monitor", _stream_release_oracle())
def q_streaming_release_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE RELEASE GATE UNDER THE STREAMING ENGINE — the reference's
    own architecture (train batch, score the stream:
    InvoicePipeline's KMeans models) applied to the LLM curation
    gate: the bigram LM model is TRAINED IN BATCH over the corpus
    (functions/ngram_lm.train + support join precomputed per doc),
    then documents arrive as a parquet file-source stream, the
    stateless Gopher + PII detectors run in-stream, the LM verdict
    joins stream-static against the batch-computed support table,
    and a complete-mode rollup maintains the running (keep, reasons)
    funnel a continuous ingestion pipeline alerts on. The
    availableNow drain's final snapshot must equal the batch
    verdict rollup the oracle recomputes from scratch."""
    from pyspark.sql import types as T

    from bigdata_invoice_stream_analysis_spark.functions.ngram_lm import (
        lm_support,
    )
    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        pii_counts,
    )
    from bigdata_invoice_stream_analysis_spark.functions.release import (
        RARE_DENOM,
    )
    from bigdata_invoice_stream_analysis_spark.functions.text import (
        gopher_quality_flags,
    )
    from bigdata_invoice_stream_analysis_spark.plans.queries import (
        _drain_input_diet,
        _run_drain,
    )
    from bigdata_invoice_stream_analysis_spark.scratch import (
        fresh_checkpoint,
    )

    batch_docs = load_table(spark, sf_dir, "documents")
    # batch leg: the corpus-trained LM support table (tiny: doc_id +
    # two ints), broadcast into the stream
    support = lm_support(batch_docs.select("doc_id", "text"))

    raw_schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    col = F.coalesce(F.col("text"), F.lit(""))
    counts = pii_counts(col)
    has_pii = None
    for c in counts.values():
        has_pii = (c > 0) if has_pii is None else (has_pii | (c > 0))
    signals = stream.select(
        "doc_id",
        gopher_quality_flags(col)["gopher_pass"].alias("gopher_pass"),
        has_pii.alias("has_pii"),
    ).join(F.broadcast(support), "doc_id")
    rare_ok = (F.col("n_bigrams") > 0) & (
        F.col("n_rare") * RARE_DENOM <= F.col("n_bigrams")
    )
    keep = F.col("gopher_pass") & ~F.col("has_pii") & rare_ok
    reasons = F.concat_ws(
        ",",
        F.when(~F.col("gopher_pass"), F.lit("quality")),
        F.when(F.col("has_pii"), F.lit("pii")),
        F.when(~rare_ok, F.lit("rare_ngrams")),
    )
    agg = (
        signals.select(keep.alias("keep"), reasons.alias("reasons"))
        .groupBy("keep", "reasons")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    acc: list = []

    def sink(bdf, _bid):
        acc.clear()
        acc.extend(bdf.collect())

    ckpt = fresh_checkpoint("stream_release_ckpt_")
    writer = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    schema = T.StructType([
        T.StructField("keep", T.BooleanType(), False),
        T.StructField("reasons", T.StringType(), False),
        T.StructField("n_docs", T.LongType(), False),
    ])
    return spark.createDataFrame(list(acc), schema)


# ---------------------------------------------------------------------------
# mpegts_stream_profile — the third scraped-video container (HLS .ts)
# ---------------------------------------------------------------------------

_TS_K = 6


def _ts_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
        encode_minimal_ts,
    )

    if k == 0:  # baseline H.264+AAC single program, PCR-timed
        return encode_minimal_ts()
    if k == 1:  # 1080p via SPS crop, no PCR → PTS-span duration
        return encode_minimal_ts(
            width_mbs=120, height_map_units=68, crop_bottom_units=4,
            n_video_pes=2, pcr0=None,
        )
    if k == 2:  # planted continuity gap — the capture-health signal
        return encode_minimal_ts(cc_gap=True)
    if k == 3:  # scrambled video: flagged, geometry never probed
        return encode_minimal_ts(scramble_video=True)
    if k == 4:  # HEVC stream type: named from the PMT, no SPS probe
        return encode_minimal_ts(video_stream_type=0x24)
    # k == 5: sync bytes without a valid packet body → quarantine row
    return (b"\x47" + bytes(187)) * 2


def _ts_oracle() -> str:
    rows = []
    for k in range(_TS_K):
        n_pkts = len(_ts_payload(k)) // 188
        if k == 5:
            rows.append(
                f"({k}, FALSE,"
                " 'ts: reserved adaptation_field_control at 0',"
                " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,"
                " NULL, NULL)")
            continue
        width, height = (640, 368)
        vcodec = "'h264'"
        dur = 66  # PCR span 2 × 900900 ticks / 27000
        cc = 1 if k == 2 else 0
        scr = "TRUE" if k == 3 else "FALSE"
        if k == 1:
            width, height = (1920, 1080)
            dur = 3003 * 1000 // 90000  # PTS span, one frame step
        if k == 3:
            width = height = "NULL"
        if k == 4:
            vcodec = "'hevc'"
            width = height = "NULL"
        rows.append(
            f"({k}, TRUE, NULL, {n_pkts}, 1, {vcodec}, {width},"
            f" {height}, 'aac-adts', {dur}, {cc}, 0, {scr})")
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_TS_K} AS INT) AS k FROM documents
),
cb(k, ok, error, n_packets, n_programs, video_codec, width, height,
   audio_codec, duration_ms, n_cc_errors, n_psi_crc_bad, scrambled)
  AS (VALUES {values})
SELECT doc_id AS archive_id, ok, error,
       CAST(n_packets AS INT) AS n_packets,
       CAST(n_programs AS INT) AS n_programs, video_codec,
       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       audio_codec, CAST(duration_ms AS BIGINT) AS duration_ms,
       CAST(n_cc_errors AS INT) AS n_cc_errors,
       CAST(n_psi_crc_bad AS INT) AS n_psi_crc_bad, scrambled
FROM media JOIN cb USING (k)
"""


@query("mpegts_stream_profile", _ts_oracle())
def q_mpegts_stream_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-TS SEGMENT PROFILE — the ISO/IEC 13818-1 packet walk
    (operators/mpegts): PAT/PMT tables behind REAL MPEG CRC-32s, PES
    PTS extraction, PCR-clock durations, per-PID continuity
    accounting, and H.264 geometry through the SAME SPS parser the
    MP4/CMAF gates use — so an HLS segment gets identical codec-truth
    columns to its fMP4 sibling. The 6-variant codebook plants the
    real capture pathologies: a continuity gap, a scrambled program
    (flagged, never probed), an HEVC stream type, and a sync-only
    blob that must quarantine, not crash. Oracle pins every column
    from fixture parameters (packet counts from the ENCODER's output
    length, durations from the PCR/PTS arithmetic). Map-side Arrow
    mapInPandas; 0 data shuffles, 1 bounded broadcast."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
        ts_stream_profile,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_ts_payload(k))) for k in range(_TS_K)],
        "k int, payload binary",
    )
    files = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _TS_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    # archive_id: the unique non-null sort prefix the driver's
    # hash-compare needs (PERF §40)
    return ts_stream_profile(
        files.select("file_id", "payload")
    ).withColumnRenamed("file_id", "archive_id")


# ---------------------------------------------------------------------------
# unicode_integrity_audit — the trojan-source / invisible-char gate
# ---------------------------------------------------------------------------

_USEC_K = 6

_USEC_TEXTS = [
    # k=0: clean
    "perfectly ordinary ascii text",
    # k=1: trojan-source bidi sandwich (RLO + isolates)
    'access = "user‮ ⁦// admin only⁩ ⁦"',
    # k=2: invisible characters inside identifiers
    "pay​pal.com sign‍in here﻿ now",
    # k=3: decode damage + a stray soft hyphen
    "broken � text � with­ artifacts",
    # k=4: control-character paste + a BMP noncharacter
    "log dump \x00\x07\x1b[0m done ﷐",
    # k=5: mixed-script spoof tokens (Cyrillic а / в in Latin words)
    "вisit pаypal.example now",
]

# closed-form per-k counts, in COUNT_PATTERNS order:
# (n_bidi, n_invisible, n_control, n_replacement, n_private_use,
#  n_noncharacter, n_mixed_script_tokens)
_USEC_COUNTS = [
    (0, 0, 0, 0, 0, 0, 0),
    (4, 0, 0, 0, 0, 0, 0),
    (0, 3, 0, 0, 0, 0, 0),
    (0, 1, 0, 2, 0, 0, 0),
    (0, 0, 3, 0, 0, 1, 0),
    (0, 0, 0, 0, 0, 0, 2),
]


def _usec_oracle() -> str:
    rows = []
    for k, c in enumerate(_USEC_COUNTS):
        clean = "TRUE" if all(v == 0 for v in c) else "FALSE"
        rows.append(f"({k}, {', '.join(map(str, c))}, {clean})")
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_USEC_K} AS INT) AS k FROM documents
),
cb(k, n_bidi, n_invisible, n_control, n_replacement, n_private_use,
   n_noncharacter, n_mixed_script_tokens, unicode_clean)
  AS (VALUES {values})
SELECT doc_id,
       CAST(n_bidi AS INT) AS n_bidi,
       CAST(n_invisible AS INT) AS n_invisible,
       CAST(n_control AS INT) AS n_control,
       CAST(n_replacement AS INT) AS n_replacement,
       CAST(n_private_use AS INT) AS n_private_use,
       CAST(n_noncharacter AS INT) AS n_noncharacter,
       CAST(n_mixed_script_tokens AS INT) AS n_mixed_script_tokens,
       unicode_clean
FROM media JOIN cb USING (k)
"""


@query("unicode_integrity_audit", _usec_oracle())
def q_unicode_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE INTEGRITY AUDIT — the pre-tokenization text-security
    gate (functions/unicodesec): trojan-source bidi controls
    (CVE-2021-42574), zero-width/default-ignorable characters,
    C0/C1 control paste, U+FFFD decode damage, private-use and
    noncharacter code points, and TR #39-style mixed-script spoof
    tokens — each hazard class its own typed counter plus the
    ``unicode_clean`` conjunction, same funnel shape as the Gopher
    rules. The 6-variant codebook plants one attack per class; the
    oracle pins the closed-form counts. Pure regexp_count Column
    algebra: zero Python, zero shuffles, 1 bounded broadcast."""
    from bigdata_invoice_stream_analysis_spark.functions.unicodesec import (
        unicode_integrity_flags,
    )

    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, _USEC_TEXTS[k]) for k in range(_USEC_K)],
        "k int, probe_text string",
    )
    docs = d.select(
        "doc_id", (F.col("doc_id") % _USEC_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    flags = unicode_integrity_flags(F.col("probe_text"))
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in flags.items()],
    )


# ---------------------------------------------------------------------------
# hls_segment_alignment — manifest CLAIMS vs container TRUTH
# ---------------------------------------------------------------------------

_ALN_K = 3

# the shared segment-bytes side: PCR-measured durations 4000/4000/1000
_ALN_SEG_MS = {"seg0.ts": 4000, "seg1.ts": 4000, "seg2.ts": 1000}


def _aln_segment_payload(uri: str) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
        encode_minimal_ts,
    )

    # PCR span = 2 × pcr_step ticks at 27 MHz → ms = pcr_step / 13500
    return encode_minimal_ts(
        pcr_step=_ALN_SEG_MS[uri] * 13500)


def _aln_manifest(k: int) -> str:
    if k == 0:  # truthful declarations
        return ("#EXTM3U\n#EXT-X-TARGETDURATION:4\n"
                "#EXTINF:4.0,\nseg0.ts\n#EXTINF:4.0,\nseg1.ts\n"
                "#EXTINF:1.0,\nseg2.ts\n#EXT-X-ENDLIST\n")
    if k == 1:  # the third EXTINF lies: declares 4 s, container says 1
        return ("#EXTM3U\n#EXT-X-TARGETDURATION:4\n"
                "#EXTINF:4.0,\nseg0.ts\n#EXTINF:4.0,\nseg1.ts\n"
                "#EXTINF:4.0,\nseg2.ts\n#EXT-X-ENDLIST\n")
    # k == 2: truthful + AES-keyed from the second segment on
    return ("#EXTM3U\n#EXT-X-TARGETDURATION:4\n"
            "#EXTINF:4.0,\nseg0.ts\n"
            '#EXT-X-KEY:METHOD=AES-128,URI="k.bin"\n'
            "#EXTINF:4.0,\nseg1.ts\n"
            "#EXTINF:1.0,\nseg2.ts\n#EXT-X-ENDLIST\n")


def _aln_oracle() -> str:
    rows = []
    for k in range(_ALN_K):
        declared = [4000, 4000, 4000 if k == 1 else 1000]
        keys = (["NONE", "AES-128", "AES-128"] if k == 2
                else ["NONE"] * 3)
        for seq in range(3):
            uri = f"seg{seq}.ts"
            measured = _ALN_SEG_MS[uri]
            aligned = abs(declared[seq] - measured) <= 500
            rows.append(
                f"({k}, {seq}, 'seg{seq}.ts', {declared[seq]},"
                f" {measured}, {str(aligned).upper()},"
                f" '{keys[seq]}')")
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_ALN_K} AS INT) AS k FROM documents
),
cb(k, seq, uri, declared_ms, measured_ms, aligned, key_method)
  AS (VALUES {values})
SELECT doc_id, CAST(seq AS INT) AS seq, uri,
       CAST(declared_ms AS BIGINT) AS declared_ms,
       CAST(measured_ms AS BIGINT) AS measured_ms,
       aligned, key_method
FROM media JOIN cb USING (k)
"""


@query("hls_segment_alignment", _aln_oracle())
def q_hls_segment_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANIFEST CLAIMS vs CONTAINER TRUTH across the streaming
    stack: HLS manifests explode to per-segment rows
    (operators/hls.hls_segments — EXTINF-declared durations, the
    encryption state machine), the segment BYTES side is measured by
    the ISO 13818-1 walk (operators/mpegts — PCR-clock durations),
    and the join on segment uri flags every segment whose manifest
    claim diverges from the 27 MHz truth by >500 ms — the same
    lie-detection shape as the MP4/SPS cross-checks, applied across
    two FILES instead of two layers of one file. One manifest
    variant plants a lying EXTINF. At corpus scale the segment side
    is a real table and this join shuffles on normalized uri; here
    both sides come from bounded broadcast codebooks, so the plan
    stays shuffle-free. Closed-form oracle from the fixture
    parameters of BOTH sides."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.hls import (
        hls_segments,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mpegts import (
        ts_stream_profile,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    manifest_cb = spark.createDataFrame(
        [(k, _aln_manifest(k)) for k in range(_ALN_K)],
        "k int, text string",
    )
    manifests = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _ALN_K).cast("int").alias("k"),
    ).join(F.broadcast(manifest_cb), "k")
    declared = hls_segments(manifests.select("file_id", "text"))
    uris = sorted(_ALN_SEG_MS)
    seg_cb = spark.createDataFrame(
        [(i, uri, bytearray(_aln_segment_payload(uri)))
         for i, uri in enumerate(uris)],
        "sid long, uri string, payload binary",
    )
    measured = ts_stream_profile(
        seg_cb.select(F.col("sid").alias("file_id"), "payload")
    ).join(
        # 3-row uri lookup: broadcast, or AQE plans two pointless
        # hash exchanges around a 3x3 join
        F.broadcast(seg_cb.select(
            F.col("sid").alias("file_id"), "uri")),
        "file_id",
    ).select("uri", F.col("duration_ms").alias("measured_ms"))
    joined = declared.join(F.broadcast(measured), "uri")
    return joined.select(
        F.col("file_id").alias("doc_id"), "seq", "uri",
        F.col("declared_ms"), F.col("measured_ms"),
        (F.abs(F.col("declared_ms") - F.col("measured_ms"))
         <= F.lit(500)).alias("aligned"),
        "key_method",
    )


# ---------------------------------------------------------------------------
# heif_image_audit — the MODERN image formats (AVIF/HEIC)
# ---------------------------------------------------------------------------

_HEIF_K = 6


def _heif_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.heif import (
        encode_minimal_heif,
    )

    if k == 0:  # plain AVIF, truthful
        return encode_minimal_heif()
    if k == 1:  # AVIF whose ispe claim lies vs the sequence header
        return encode_minimal_heif(lie_dims=True)
    if k == 2:  # HEIC phone photo with Exif + XMP (privacy items)
        return encode_minimal_heif(codec="hvc1", with_exif=True,
                                   with_xmp=True)
    if k == 3:  # grid-derived AVIF (multi-tile panorama shape)
        return encode_minimal_heif(grid=True, width=1280,
                                   height=720, seq_level=12)
    if k == 4:  # rotated capture — naive w×h filters get this wrong
        return encode_minimal_heif(rotation=90)
    # k == 5: BMFF but not a HEIF brand — quarantine
    return b"\x00\x00\x00\x10ftypmp42mp42"


def _heif_oracle() -> str:
    rows = [
        "(0, TRUE, NULL, 'avif', 'av01', 640, 480, 'av01.0.08M',"
        " 640, 480, TRUE, 1, FALSE, FALSE, 0)",
        "(1, TRUE, NULL, 'avif', 'av01', 648, 480, 'av01.0.08M',"
        " 640, 480, FALSE, 1, FALSE, FALSE, 0)",
        "(2, TRUE, NULL, 'heic', 'hvc1', 640, 480, 'hvc1.1.L93',"
        " 640, 480, TRUE, 3, TRUE, TRUE, 0)",
        "(3, TRUE, NULL, 'avif', 'grid', 1280, 720, 'av01.0.12M',"
        " 1280, 720, TRUE, 2, FALSE, FALSE, 0)",
        "(4, TRUE, NULL, 'avif', 'av01', 640, 480, 'av01.0.08M',"
        " 640, 480, TRUE, 1, FALSE, FALSE, 90)",
        "(5, FALSE, 'heif: not a HEIF brand ''mp42''', NULL, NULL,"
        " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_HEIF_K} AS INT) AS k FROM documents
),
cb(k, ok, error, brand, primary_type, width, height, codec,
   bitstream_width, bitstream_height, dims_match, n_items, has_exif,
   has_xmp, rotation) AS (VALUES {values})
SELECT doc_id AS archive_id, ok, error, brand, primary_type,
       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
       codec, CAST(bitstream_width AS INT) AS bitstream_width,
       CAST(bitstream_height AS INT) AS bitstream_height,
       dims_match, CAST(n_items AS INT) AS n_items, has_exif,
       has_xmp, CAST(rotation AS INT) AS rotation
FROM media JOIN cb USING (k)
"""


@query("heif_image_audit", _heif_oracle())
def q_heif_image_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEIF/AVIF AUDIT — the modern image formats (operators/heif):
    the 23008-12 meta-box walk over the SHARED BMFF box grammar,
    with codec truth through the SHARED AV1 sequence-header and HEVC
    SPS parsers — ispe container claims cross-checked against the
    embedded bitstream (one variant plants a lying ispe), Exif/XMP
    metadata ITEMS (the phone-photo privacy surface), grid-derived
    images, and irot rotation (the property that breaks naive w×h
    filters). Closed-form oracle from fixture parameters. Map-side;
    0 data shuffles, 1 bounded broadcast."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.heif import (
        heif_image_profile,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_heif_payload(k))) for k in range(_HEIF_K)],
        "k int, payload binary",
    )
    files = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _HEIF_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return heif_image_profile(
        files.select("file_id", "payload")
    ).withColumnRenamed("file_id", "archive_id")


# ---------------------------------------------------------------------------
# svg_image_audit — the only image format that can execute
# ---------------------------------------------------------------------------

_SVG_K = 5

_SVG_DOCS = [
    # k=0: clean icon with text runs and a viewBox
    ('<?xml version="1.0"?><svg xmlns="http://www.w3.org/2000/svg"'
     ' width="120" height="80" viewBox="0 0 240 160">'
     "<rect/><text>Hello &amp; label</text>"
     "<text><tspan>nested</tspan></text></svg>"),
    # k=1: the attack surface — onload + script + foreignObject
    ('<svg onload="run()" width="10" height="10">'
     "<script>x()</script><foreignObject/></svg>"),
    # k=2: tracker refs + data URI, no executable content
    ('<svg width="64" height="64">'
     '<image href="https://tracker.example/p.png"/>'
     '<image href="data:image/png;base64,AAAA"/></svg>'),
    # k=3: percentage width — viewBox is the real geometry
    '<svg width="100%" viewBox="0 0 512 256"><circle/></svg>',
    # k=4: XML but not SVG — quarantine
    '<?xml version="1.0"?><urlset><url/></urlset>',
]


def _svg_oracle() -> str:
    rows = [
        "(0, TRUE, NULL, 120.0, 80.0, 240.0, 160.0, 5,"
        " 'Hello & label' || chr(10) || 'nested', 0, 0, 0, FALSE,"
        " FALSE)",
        "(1, TRUE, NULL, 10.0, 10.0, NULL, NULL, 3, '', 1, 1, 0,"
        " TRUE, TRUE)",
        "(2, TRUE, NULL, 64.0, 64.0, NULL, NULL, 3, '', 0, 0, 1,"
        " FALSE, FALSE)",
        "(3, TRUE, NULL, 100.0, NULL, 512.0, 256.0, 2, '', 0, 0, 0,"
        " FALSE, FALSE)",
        "(4, FALSE, 'svg: no <svg> root element', NULL, NULL, NULL,"
        " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_SVG_K} AS INT) AS k FROM documents
),
cb(k, ok, error, width, height, viewbox_width, viewbox_height,
   n_elements, text, n_scripts, n_event_handlers, n_external_refs,
   has_foreign_object, svg_risky) AS (VALUES {values})
SELECT doc_id AS archive_id, ok, error,
       CAST(width AS DOUBLE) AS width,
       CAST(height AS DOUBLE) AS height,
       CAST(viewbox_width AS DOUBLE) AS viewbox_width,
       CAST(viewbox_height AS DOUBLE) AS viewbox_height,
       CAST(n_elements AS INT) AS n_elements, text,
       CAST(n_scripts AS INT) AS n_scripts,
       CAST(n_event_handlers AS INT) AS n_event_handlers,
       CAST(n_external_refs AS INT) AS n_external_refs,
       has_foreign_object, svg_risky
FROM media JOIN cb USING (k)
"""


@query("svg_image_audit", _svg_oracle())
def q_svg_image_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVG SECURITY TRIAGE — the only image format that can carry
    executable code (operators/svg): script tags, on*= handler
    attributes, foreignObject HTML, external href fetches and data:
    URIs each get their own counter, with svg_risky as the
    quarantine bit an image pipeline applies BEFORE rasterization;
    geometry comes from width/height with the viewBox fallback, and
    <text>/<tspan> runs are extracted entity-decoded through the
    same bounded scanner as the OOXML gate. Closed-form oracle from
    the document literals. Map-side; 0 data shuffles, 1 bounded
    broadcast."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.svg import (
        svg_image_profile,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, _SVG_DOCS[k]) for k in range(_SVG_K)],
        "k int, text string",
    )
    files = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _SVG_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return svg_image_profile(
        files.select("file_id", "text")
    ).withColumnRenamed("file_id", "archive_id")


# ---------------------------------------------------------------------------
# document_release_funnel — office docs through the text release gates
# ---------------------------------------------------------------------------

_DRF_K = 5

_DRF_LONG = (
    "The quarterly review shows steady progress across all the "
    "regional teams and their delivery programs. Customer demand "
    "for the core product line remains strong, and the operations "
    "group has kept fulfilment times stable through the seasonal "
    "peak. Hiring plans for the support organization were approved "
    "by the board with minor adjustments to the training budget."
)


def _drf_payload(k: int) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
        encode_minimal_docx,
    )

    if k == 0:  # clean long document — ships
        return encode_minimal_docx([_DRF_LONG])
    if k == 1:  # PII: a contact email inside the body
        return encode_minimal_docx(
            [_DRF_LONG, "Contact billing.lead@example.com for terms."])
    if k == 2:  # trojan-source bidi control inside the body
        return encode_minimal_docx(
            [_DRF_LONG, "approved‮ reviewer note"])
    if k == 3:  # clean text but a macro payload — blocked at the
        # document layer, not the text layer
        return encode_minimal_docx([_DRF_LONG], with_macro=True)
    # k == 4: too short for the Gopher word-count rule
    return encode_minimal_docx(["Approved."])


def _drf_oracle() -> str:
    rows = [
        "(0, TRUE,  '')",
        "(1, FALSE, 'pii')",
        "(2, FALSE, 'unicode')",
        "(3, FALSE, 'macros')",
        "(4, FALSE, 'quality')",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_DRF_K} AS INT) AS k FROM documents
),
cb(k, keep, reasons) AS (VALUES {values})
SELECT doc_id, CAST('docx' AS VARCHAR) AS kind, keep, reasons
FROM media JOIN cb USING (k)
"""


@query("document_release_funnel", _drf_oracle())
def q_document_release_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFICE DOCUMENTS THROUGH THE RELEASE GATES — four layers in
    one plan: ZIP (central directory + inflate) → OOXML text
    extraction (operators/ooxml, macro bit) → the text-security and
    quality gates (functions/unicodesec bidi/invisible audit,
    functions/text Gopher rules, functions/pii detectors) → one
    (keep, reasons) verdict per document with the release gate's
    fixed-order reason codes plus 'unicode' and 'macros'. The
    codebook plants one failure per layer: a PII email, a
    trojan-source bidi control, a vbaProject macro, and a
    too-short body — proving extracted office text flows through
    the SAME funnel as web text. Plan: one mapInPandas extraction +
    pure Column gates; 0 data shuffles, 1 bounded broadcast."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.functions.pii import (
        pii_counts,
    )
    from bigdata_invoice_stream_analysis_spark.functions.text import (
        gopher_quality_flags,
    )
    from bigdata_invoice_stream_analysis_spark.functions.unicodesec import (
        unicode_integrity_flags,
    )
    from bigdata_invoice_stream_analysis_spark.operators.ooxml import (
        ooxml_document_profile,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, bytearray(_drf_payload(k))) for k in range(_DRF_K)],
        "k int, payload binary",
    )
    files = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _DRF_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    docs = ooxml_document_profile(
        files.select("file_id", "payload"))
    col = F.coalesce(F.col("text"), F.lit(""))
    counts = pii_counts(col)
    has_pii = None
    for c in counts.values():
        has_pii = (c > 0) if has_pii is None else (has_pii | (c > 0))
    gates = docs.select(
        F.col("file_id").alias("doc_id"),
        F.col("kind"),
        gopher_quality_flags(col)["gopher_pass"].alias("gopher_pass"),
        has_pii.alias("has_pii"),
        unicode_integrity_flags(col)["unicode_clean"]
        .alias("unicode_clean"),
        F.col("has_macros"),
    )
    keep = (F.col("gopher_pass") & ~F.col("has_pii")
            & F.col("unicode_clean") & ~F.col("has_macros"))
    reasons = F.concat_ws(
        ",",
        F.when(~F.col("gopher_pass"), F.lit("quality")),
        F.when(F.col("has_pii"), F.lit("pii")),
        F.when(~F.col("unicode_clean"), F.lit("unicode")),
        F.when(F.col("has_macros"), F.lit("macros")),
    )
    return gates.select(
        "doc_id", "kind", keep.alias("keep"),
        reasons.alias("reasons"),
    )


# ---------------------------------------------------------------------------
# eml_corpus_audit — mail archives as a training-text source
# ---------------------------------------------------------------------------

_EML_K = 5


def _eml_payload(k: int) -> str:
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        encode_eml,
    )

    if k == 0:  # simple single-part message
        return encode_eml(text="Short status update for the team.")
    if k == 1:  # RFC 2047 subject + QP unicode body + html alt
        return encode_eml(
            subject="Résumé — naïve café",
            encode_subject=True, qp_body=True,
            text="café — naïve body", html="<p>café</p>")
    if k == 2:  # attachment inventory
        return encode_eml(
            html="<p>see attached</p>",
            attachments=[
                ("report.pdf", "application/pdf", bytes(100)),
                ("data.bin", "application/octet-stream", bytes(40)),
            ])
    if k == 3:  # folded headers, LF-only capture
        return ("From: sender@example.com\n"
                "Subject: a very\n long folded\n\tsubject line\n"
                "Date: Mon, 10 Aug 2026 09:00:00 +0000\n\n"
                "lf body text")
    # k == 4: multipart claiming a boundary that never appears
    return ("From: a@example.com\r\nSubject: torn\r\n"
            'Content-Type: multipart/mixed; boundary="nope"\r\n'
            "\r\nno boundary follows")


def _eml_oracle() -> str:
    rows = [
        "(0, TRUE, NULL, 'Meeting notes', 'a.sender@example.com',"
        " 'team@example.com', 'Short status update for the team.',"
        " 1, 0, 0, 0, TRUE)",
        "(1, TRUE, NULL, 'Résumé — naïve café',"
        " 'a.sender@example.com', 'team@example.com',"
        " 'café — naïve body', 2, 1, 0, 0, TRUE)",
        "(2, TRUE, NULL, 'Meeting notes', 'a.sender@example.com',"
        " 'team@example.com', 'Plain body.', 4, 1, 2, 140, TRUE)",
        "(3, TRUE, NULL, 'a very long folded subject line',"
        " 'sender@example.com', NULL, 'lf body text', 1, 0, 0, 0,"
        " TRUE)",
        "(4, FALSE, 'eml: boundary never appears in body', NULL,"
        " NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL)",
    ]
    values = ",\n  ".join(rows)
    return f"""
WITH media AS (
  SELECT doc_id, CAST(doc_id % {_EML_K} AS INT) AS k FROM documents
),
cb(k, ok, error, subject, from_addr, to_addrs, text, n_parts,
   n_html_parts, n_attachments, attachment_bytes, has_addresses)
  AS (VALUES {values})
SELECT doc_id AS archive_id, ok, error, subject, from_addr,
       to_addrs, NULL AS date_hdr, text,
       CAST(n_parts AS INT) AS n_parts,
       CAST(n_html_parts AS INT) AS n_html_parts,
       CAST(n_attachments AS INT) AS n_attachments,
       CAST(attachment_bytes AS BIGINT) AS attachment_bytes,
       has_addresses
FROM media JOIN cb USING (k)
"""


@query("eml_corpus_audit", _eml_oracle())
def q_eml_corpus_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-MAIL CORPUS AUDIT — RFC 5322/MIME from scratch
    (operators/eml): header unfolding, RFC 2047 encoded-words (B and
    Q, adjacent-word whitespace dropping), quoted-printable and
    base64 transfer decodes, bounded multipart recursion, the
    first-text/plain training-text policy, attachment inventory, and
    the address-header PII bit. The codebook covers a QP-unicode
    message, a two-attachment message, an LF-only capture with
    folded headers, and a boundary-that-never-appears quarantine
    case. Closed-form oracle from fixture parameters (the Date
    header is normalized out — fixture-constant). Map-side; 0 data
    shuffles, 1 bounded broadcast."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.eml import (
        eml_message_profile,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [(k, _eml_payload(k)) for k in range(_EML_K)],
        "k int, text string",
    )
    files = d.select(
        F.col("doc_id").alias("file_id"),
        (F.col("doc_id") % _EML_K).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    out = eml_message_profile(files.select("file_id", "text"))
    # the Date header is a fixture constant; normalize it to NULL so
    # the oracle stays closed-form without duplicating the literal
    return out.select(
        F.col("file_id").alias("archive_id"), "ok", "error",
        "subject", "from_addr", "to_addrs",
        F.lit(None).cast("string").alias("date_hdr"),
        "text", "n_parts", "n_html_parts", "n_attachments",
        "attachment_bytes", "has_addresses",
    )
