"""Multimodal media queries: opaque binary payloads (image/audio/video)
decoded, chunked, frame-sampled and deduped through Arrow mapInPandas
iterators (operators/multimodal.py).

Split out of plans/extensions.py (round 4, layout only): registration
still flows through the shared ``@query`` decorator;
``__spark_entry__.GRADED_50`` owns the driver grading window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.operators import multimodal as MM
from bigdata_invoice_stream_analysis_spark.plans.queries import query
from bigdata_invoice_stream_analysis_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Byte stats + real image decode
# ---------------------------------------------------------------------------

@query(
    "media_byte_stats",
    oracle="""
SELECT doc_id AS media_id,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(list_sum(list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))) AS BIGINT) AS byte_sum,
       CAST(list_min(list_transform(string_split(text, ''), c -> ascii(c))) AS INT) AS byte_min,
       CAST(list_max(list_transform(string_split(text, ''), c -> ascii(c))) AS INT) AS byte_max,
       'image' AS kind
FROM documents
""",
)
def q_media_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents as binary media payloads →
    Arrow-batched mapInPandas feature extraction (byte stats as the
    deterministic decode stand-in; the corpus is ASCII so byte codes ==
    char codes, which the oracle recomputes from the text)."""
    media = MM.documents_as_media(load_table(spark, sf_dir, "documents"))
    return MM.extract_byte_stats(media)


@query(
    "media_decoded_pixels",
    oracle="""
WITH px AS (
  SELECT doc_id AS media_id,
         rpad(substring(text, 1, 256), 256, ' ') AS p
  FROM documents
)
SELECT media_id,
       16 AS width, 16 AS height,
       CAST(list_sum(list_transform(generate_series(1, 256),
            i -> CAST(ascii(substring(p, i, 1)) AS BIGINT))) AS BIGINT) AS pixel_sum,
       CAST(list_min(list_transform(generate_series(1, 256),
            i -> ascii(substring(p, i, 1)))) AS INT) AS pixel_min,
       CAST(list_max(list_transform(generate_series(1, 256),
            i -> ascii(substring(p, i, 1)))) AS INT) AS pixel_max,
       CAST(list_sum(list_transform(generate_series(0, 63),
            i -> CAST(ascii(substring(p, ((i // 8) * 2) * 16 + ((i % 8) * 2) + 1, 1))
                 AS BIGINT))) AS BIGINT) AS resized_sum
FROM px
""",
)
def q_media_decoded_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in the graded path (not the byte-stats
    stand-in): each document is rendered as a VALID binary PGM image —
    ``P5 16 16 255\\n`` header + the text's first 256 chars space-padded
    as the raster — entirely in Spark expressions, then DECODED by the
    pure-Python P5 codec inside Arrow mapInPandas
    (operators/multimodal.decode_pixel_stats; decode_pnm is its
    driver-side twin). Output: exact pixel stats plus an 8×8
    nearest-neighbor resize sum over the genuinely decoded raster.
    The oracle recomputes everything from the text characters (ASCII
    corpus ⇒ UTF-8 byte == char code), so a header-parse or unfilter
    drift flips the hash. Plan: pure map-side (zero shuffle before the
    driver's terminal agg); payloads never leave the executors."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(
        F.concat(
            F.lit("P5 16 16 255\n"),
            F.rpad(F.substring("text", 1, 256), 256, " "),
        ),
        "UTF-8",
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )
    return MM.decode_pixel_stats(media, target_w=8, target_h=8)



@query(
    "media_frame_samples",
    oracle="""
SELECT doc_id AS media_id,
       CAST(((n_chars % 16) + 1 + 3) // 4 AS BIGINT) AS n_kept_frames
FROM documents
""",
)
def q_media_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame-sampling plumbing: documents as fake video
    payloads (n_frames derived from n_chars), every-4th-frame sampling
    through the row-expanding mapInPandas stub, then kept-frame counts
    per media id. The oracle computes ceil(n_frames/4) arithmetically —
    the Spark side must route every row through the real Arrow batch
    iterator to match."""
    docs = load_table(spark, sf_dir, "documents")
    media = MM.documents_as_media(docs).withColumn(
        "meta",
        F.col("meta").withField(
            "n_frames", (F.col("meta.width") % 16 + 1).cast("int")
        ),
    )
    sampled = MM.frame_sample_stub(media, every_n=4)
    return sampled.groupBy("media_id").agg(
        F.count("*").alias("n_kept_frames")
    )




@query(
    "media_exact_dedup",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 13 = 0
),
hashed AS (SELECT media_id, md5(text) AS content_hash FROM media)
SELECT content_hash,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(MIN(media_id) AS BIGINT) AS canonical_id
FROM hashed GROUP BY 1 HAVING COUNT(*) > 1
""",
)
def q_media_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over OPAQUE BINARY payloads (image/audio dedup by
    content digest): md5 of the bytes, one hash-agg shuffle on the
    digest — the minimal plan, identical in shape to text exact-dedup
    but operating on the binary column, which never leaves the JVM
    (no decode, no Python). Corpus: media payloads + verbatim copies
    of every 13th doc (byte-identical dup convention, id+3e6). The
    ASCII corpus makes DuckDB's md5(text) the exact oracle twin of
    Spark's md5(binary)."""
    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        documents_as_media,
    )

    d = load_table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 13 == 0).withColumn(
        "doc_id", F.col("doc_id") + 3_000_000
    )
    media = documents_as_media(d.unionByName(dup))
    return (
        media.select("media_id", F.md5(F.col("payload")).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------



@query(
    "media_audio_chunks",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, length(text) AS n_bytes,
         100 + (doc_id % 3) * 50 AS sample_rate
  FROM documents
),
chunks AS (
  SELECT media_id,
         CAST(s.i AS INT) AS chunk_idx,
         CAST(s.i * sample_rate * 2 AS BIGINT) AS start_byte,
         CAST(LEAST(sample_rate * 2, n_bytes - s.i * sample_rate * 2)
              AS BIGINT) AS chunk_bytes
  FROM media,
       UNNEST(generate_series(0,
         CAST(CEIL(CAST(n_bytes AS DOUBLE) / (sample_rate * 2)) AS BIGINT) - 1))
         AS s(i)
)
SELECT media_id,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(MAX(chunk_bytes) AS BIGINT) AS max_chunk,
       CAST(MIN(chunk_bytes) AS BIGINT) AS tail_chunk
FROM chunks GROUP BY 1
""",
)
def q_media_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking over opaque payloads: every 'recording' splits
    into sample_rate×2-byte windows via the row-expanding mapInPandas
    stub (operators/multimodal.audio_chunk_stub) — the Arrow batch
    shape of a real torchaudio chunker, with byte-span arithmetic
    standing in for decode. Synthetic sample rates (100/150/200 by id)
    exercise variable chunk sizes; the gate pins chunk counts and the
    short tail chunk per recording. Zero shuffle until the final
    per-media aggregate."""
    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        audio_chunk_stub,
        documents_as_media,
    )

    d = load_table(spark, sf_dir, "documents")
    media = documents_as_media(d).select(
        "media_id",
        "payload",
        F.col("meta").withField(
            "sample_rate", (100 + (F.col("media_id") % 3) * 50).cast("int")
        ).withField("kind", F.lit("audio")).alias("meta"),
    )
    chunks = audio_chunk_stub(media, chunk_seconds=2)
    return chunks.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.max("n_bytes").alias("max_chunk"),
        F.min("n_bytes").alias("tail_chunk"),
    )


@query(
    "media_audio_samples",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id,
         100 + (doc_id % 3) * 50 AS rate,
         rpad(substring(text, 1, 256), 256, ' ') AS p
  FROM documents
),
chunks AS (
  SELECT media_id, rate,
         CAST(s.i AS INT) AS chunk_idx,
         CAST(s.i * rate AS INT) AS start,
         CAST(LEAST(rate, 256 - s.i * rate) AS INT) AS len,
         p
  FROM media,
       UNNEST(generate_series(0, CAST(CEIL(256.0 / rate) AS BIGINT) - 1)) AS s(i)
)
SELECT media_id, chunk_idx,
       CAST(rate AS INT) AS sample_rate,
       CAST(len AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(generate_series(start + 1, start + len),
            i -> CAST(ascii(substring(p, i, 1)) AS BIGINT))) AS BIGINT) AS sample_sum,
       CAST(list_max(list_transform(generate_series(start + 1, start + len),
            i -> abs(ascii(substring(p, i, 1)) - 128))) AS INT) AS peak,
       CAST(list_sum(list_transform(generate_series(start + 1, start + len),
            i -> CAST((ascii(substring(p, i, 1)) - 128)
                      * (ascii(substring(p, i, 1)) - 128) AS BIGINT)))
            AS BIGINT) AS sq_dev_sum
FROM chunks
""",
)
def q_media_audio_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the graded path (media_decoded_pixels'
    audio twin): each document is rendered as a VALID RIFF/WAVE file —
    canonical 44-byte 8-bit-mono-PCM header (sample rate 100/150/200 Hz
    by doc id, three constant literal headers) + the text's first 256
    chars space-padded as the sample data — entirely in Spark
    expressions, then DECODED by the pure-Python RIFF chunk walker
    inside Arrow mapInPandas (operators/multimodal.audio_sample_stats;
    decode_wav is its driver-side twin). Chunking into 1-second windows
    uses the rate FROM THE DECODED fmt CHUNK, so a header-parse drift
    changes every chunk boundary and flips the hash. Gated stats are
    exact integers per chunk: sample sum, peak |deviation| from the
    8-bit midpoint, and the squared-deviation sum (the integer core of
    RMS). The oracle recomputes all of it from the text characters
    (ASCII corpus ⇒ UTF-8 byte == sample code). Plan: pure map-side —
    payloads never leave the executors."""
    from bigdata_invoice_stream_analysis_spark.operators.multimodal import (
        audio_sample_stats,
        wav_header,
    )

    d = load_table(spark, sf_dir, "documents")
    hdr = F.when(
        F.col("doc_id") % 3 == 0, F.lit(wav_header(256, 100))
    ).when(
        F.col("doc_id") % 3 == 1, F.lit(wav_header(256, 150))
    ).otherwise(F.lit(wav_header(256, 200)))
    payload = F.concat(
        hdr, F.encode(F.rpad(F.substring("text", 1, 256), 256, " "), "UTF-8")
    )
    media = d.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return audio_sample_stats(media, chunk_seconds=1)



@query(
    "media_jpeg_roundtrip",
    oracle="""
SELECT doc_id AS media_id,
       8 AS width, 8 AS height,
       CAST(64 * ascii(substring(rpad(text, 1, ' '), 1, 1)) AS BIGINT) AS pixel_sum,
       CAST(ascii(substring(rpad(text, 1, ' '), 1, 1)) AS INT) AS pixel_min,
       CAST(ascii(substring(rpad(text, 1, ' '), 1, 1)) AS INT) AS pixel_max
FROM documents
""",
)
def q_media_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode in the graded path, with an EXACT closed-form
    oracle: at quality 75 the Annex-K luminance quantizer's DC step is
    (16·50+50)//100 = 8, and the orthonormal DCT of a constant 8×8
    block v is DC = 8·(v−128) — so quantization divides by exactly the
    DC scale and a constant block round-trips EXACTLY (dcq = v−128,
    reconstruction = dcq·8/8 + 128 = v, proven for all 256 grays in
    test_jpeg). Each document maps to the constant-gray JPEG of its
    first character: a bounded 118-payload codebook encoded ONCE
    driver-side (operators/jpeg.encode_jpeg — markers, Annex-K Huffman,
    DC coding, byte stuffing) and broadcast-joined by gray level; the
    DECODE side runs the full baseline decoder (marker walk, canonical
    Huffman, dequant, IDCT) inside Arrow mapInPandas on the executors,
    importing the package shipped via deploy.ensure_package_on_workers
    (the production distribute-your-wheel pattern — the codec is too
    large for the pickle-by-value closure convention). The oracle
    predicts the decoded pixels from first principles, so a drift
    anywhere in the marker/Huffman/DCT pipeline flips the hash.
    Plan: 118-row broadcast join + map-side decode, zero data shuffle."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import encode_jpeg

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    grays = list(range(9, 127))  # printable ASCII + tab/newline/CR
    codebook = spark.createDataFrame(
        [(v, bytearray(encode_jpeg(bytes([v] * 64), 8, 8, quality=75)))
         for v in grays],
        "gray int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.ascii(F.substring(F.rpad("text", 1, " "), 1, 1)).alias("gray"),
    ).join(F.broadcast(codebook), "gray")

    out_schema = (
        "media_id long, width int, height int, "
        "pixel_sum long, pixel_min int, pixel_max int"
    )

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.jpeg import decode_jpeg
        from bigdata_invoice_stream_analysis_spark.operators.memo import (
            BoundedMemo,
            payload_key,
        )

        # Decode each DISTINCT payload once per task (guide §8); the
        # pixel stats are a pure function of the bytes. Bounded
        # digest-keyed memo (operators/memo.py): retains only 16-byte
        # keys + stat tuples, never the payload bytes, and caps
        # entries. Task-closure scope only.
        memo = BoundedMemo()

        def stats(raw: bytes) -> tuple:
            k = payload_key(raw)
            got = memo.get(k)
            if got is None:
                img = decode_jpeg(raw)
                px = img["pixels"]
                got = memo.put(k, (
                    img["width"], img["height"], sum(px), min(px), max(px),
                ))
            return got

        for pdf in it:
            out = {k: [] for k in (
                "media_id", "width", "height",
                "pixel_sum", "pixel_min", "pixel_max",
            )}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                w, h, psum, pmin, pmax = stats(bytes(p))
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["pixel_sum"].append(psum)
                out["pixel_min"].append(pmin)
                out["pixel_max"].append(pmax)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=out_schema
    )


@query(
    "media_mp4_frame_index",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 16 AS INT) AS k FROM documents
),
frames AS (
  SELECT media_id, k, CAST(s.i AS INT) AS frame_idx
  FROM media, UNNEST(generate_series(0, k)) AS s(i)
  WHERE s.i % 2 = 0
)
SELECT media_id, frame_idx,
       CAST(32 + COALESCE(list_sum(list_transform(
              generate_series(0, frame_idx - 1),
              j -> CAST((k * 7 + j) % 50 + 1 AS BIGINT))), 0) AS BIGINT)
         AS byte_offset,
       CAST((k * 7 + frame_idx) % 50 + 1 AS BIGINT) AS n_bytes,
       CAST(40 * frame_idx AS BIGINT) AS pts
FROM frames
""",
)
def q_media_mp4_frame_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video DEMUX in the graded path: every doc maps to a valid
    ISO BMFF (MP4) file — ftyp + mdat + full moov/trak/stbl sample
    tables — from a bounded 16-payload broadcast codebook keyed by
    doc_id % 16 (k+1 frames of sizes (k·7+i) % 50 + 1, 40-tick
    deltas), built ONCE driver-side by operators/mp4.encode_minimal_mp4.
    The executors then parse the BOX TREE AND SAMPLE TABLES
    (stts/stsz/stsc/stco) inside Arrow mapInPandas and emit every-2nd
    frame's absolute byte range + decode timestamp — the index a real
    frame-sampling pipeline hands its codec stage. The oracle
    recomputes offsets from first principles (32-byte ftyp+mdat header
    prefix + running size sums), so a drift anywhere in box walking or
    chunk-offset expansion flips the hash. Frame DECODE remains the
    honest stub (needs a codec library); demux is the real, gateable
    half. Plan: 16-row broadcast join + map-side parse, zero data
    shuffle."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        frame_index,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [
            (k, bytearray(encode_minimal_mp4(
                [(k * 7 + i) % 50 + 1 for i in range(k + 1)],
                timescale=1000, frame_delta=40,
            )))
            for k in range(16)
        ],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 16).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return frame_index(media.select("media_id", "payload"), every_n=2)


@query(
    "media_video_frames",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 12 AS INT) AS k FROM documents
),
frames AS (
  SELECT media_id, k, CAST(s.i AS INT) AS frame_idx
  FROM media, UNNEST(generate_series(0, k)) AS s(i)
  WHERE s.i % 2 = 0
)
SELECT media_id, frame_idx,
       CAST(40 * frame_idx AS BIGINT) AS pts,
       8 AS width, 8 AS height,
       CAST(64 * ((k * 17 + frame_idx * 29) % 256) AS BIGINT) AS pixel_sum,
       CAST((k * 17 + frame_idx * 29) % 256 AS INT) AS pixel_min,
       CAST((k * 17 + frame_idx * 29) % 256 AS INT) AS pixel_max
FROM frames
""",
)
def q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video decode END-TO-END in the graded path — the round-4 honest
    stub closed with zero new codec math: every doc maps to a valid
    MJPEG-in-MP4 file (ISO BMFF container whose track samples are REAL
    baseline JPEGs) from a bounded 12-payload broadcast codebook keyed
    by doc_id % 12 — variant k carries k+1 frames, frame i a constant
    8×8 JPEG of gray (k·17 + i·29) % 256, built ONCE driver-side
    (operators/mp4.encode_minimal_mp4 around operators/jpeg.encode_jpeg).
    The executors then run the FULL pipeline inside Arrow mapInPandas:
    parse the box tree and stts/stsz/stsc/stco sample tables, slice
    every-2nd frame's byte range out of the payload, and decode each
    slice with the from-scratch T.81 baseline JPEG decoder
    (operators/mediadecode.decode_video_frames_memo). The oracle predicts the
    decoded pixels in closed form — at quality 75 the Annex-K luma DC
    step equals the DCT DC scale, so constant blocks round-trip
    EXACTLY (the media_jpeg_roundtrip identity, proven for all 256
    grays in test_jpeg) — and a drift anywhere in box walking, chunk
    expansion, byte slicing, Huffman, dequant, or IDCT flips the hash.
    Plan: 12-row broadcast join + map-side demux+decode, zero data
    shuffle; payloads and pixel buffers never leave the executors."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import encode_jpeg
    from bigdata_invoice_stream_analysis_spark.operators.mediadecode import (
        decode_video_frames_memo as decode_video_frames,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [
            (k, bytearray(encode_minimal_mp4(
                frames=[
                    encode_jpeg(
                        bytes([(k * 17 + i * 29) % 256] * 64), 8, 8, quality=75
                    )
                    for i in range(k + 1)
                ],
                timescale=1000, frame_delta=40,
            )))
            for k in range(12)
        ],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 12).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return decode_video_frames(media.select("media_id", "payload"), every_n=2)


@query(
    "media_keyframe_index",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 14 AS INT) AS k FROM documents
),
frames AS (
  SELECT media_id, k, CAST(s.i AS INT) AS frame_idx
  FROM media, UNNEST(generate_series(0, k)) AS s(i)
  WHERE s.i % 6 = 0
)
SELECT media_id, frame_idx,
       CAST(32 + COALESCE(list_sum(list_transform(
              generate_series(0, frame_idx - 1),
              j -> CAST((k * 11 + j) % 40 + 1 AS BIGINT))), 0) AS BIGINT)
         AS byte_offset,
       CAST((k * 11 + frame_idx) % 40 + 1 AS BIGINT) AS n_bytes,
       CAST(40 * frame_idx AS BIGINT) AS pts
FROM frames
""",
)
def q_media_keyframe_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYFRAME-aware frame sampling — the mode a production video
    pipeline actually runs, because only sync samples decode without
    inter-frame context: the stss sync-sample table (ISO 14496-12
    §8.6.2) restricts the candidate set BEFORE the every-Nth stride.
    Every doc maps to a 14-payload broadcast codebook MP4 (variant k:
    k+1 frames of sizes (k·11+i) % 40 + 1, stss marking every 3rd
    sample), and frame_index(every_n=2, keyframes_only=True) keeps
    exactly the i % 6 == 0 samples — the oracle recomputes both the
    stss∘stride composition and the byte offsets (32-byte header
    prefix + running size sums) from first principles, so a drift in
    stss parsing (1-based→0-based), candidate ordering, or stride
    placement flips the hash. Plan: 14-row broadcast join + map-side
    parse, zero data shuffle."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        frame_index,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [
            (k, bytearray(encode_minimal_mp4(
                [(k * 11 + i) % 40 + 1 for i in range(k + 1)],
                timescale=1000, frame_delta=40,
                keyframes=[i for i in range(k + 1) if i % 3 == 0],
            )))
            for k in range(14)
        ],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 14).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return frame_index(
        media.select("media_id", "payload"), every_n=2, keyframes_only=True
    )


@query(
    "media_codec_profile",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 24 AS INT) AS k FROM documents
),
v AS (
  SELECT media_id, k, k % 2 AS hevc,
         CASE k % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS ap,
         (k % 4) * 32 AS ac,
         CASE k % 5 WHEN 0 THEN 30 WHEN 1 THEN 31 WHEN 2 THEN 40
                    WHEN 3 THEN 41 ELSE 50 END AS al,
         1 + ((k // 2) % 2) AS hp,
         CASE k % 5 WHEN 0 THEN 90 WHEN 1 THEN 93 WHEN 2 THEN 120
                    WHEN 3 THEN 123 ELSE 150 END AS hl
  FROM media WHERE k < 18
),
nb(k, codec, width, height, profile_idc, compat_flags, level_idc,
   codec_string, n_samples, duration_ms) AS (VALUES
  (18, 'vp09', 352, 48, 0,   NULL,      10,  'vp09.00.10.08', 19, 760),
  (19, 'avc1', 368, 64, 100, 0,         41,  'avc1.640029',   20, 0),
  (20, 'vp09', 384, 80, 1,   NULL,      20,  'vp09.01.20.08', 21, 840),
  (21, 'hev1', 400, 48, 2,   805306368, 123, 'hev1.2.c.L123', 22, 0),
  (22, 'vp09', 416, 64, 2,   NULL,      31,  'vp09.02.31.10', 23, 920),
  (23, 'av01', 432, 80, 1,   NULL,      13,  'av01.1.13M.10', 24, 0)
)
SELECT media_id,
       CASE WHEN hevc = 1 THEN 'hev1' ELSE 'avc1' END AS codec,
       CAST(64 + 16 * k AS INT) AS width,
       CAST(48 + 16 * (k % 3) AS INT) AS height,
       CAST(CASE WHEN hevc = 1 THEN hp ELSE ap END AS INT) AS profile_idc,
       CAST(CASE WHEN hevc = 1 THEN 3 * (1 << (30 - hp)) ELSE ac END AS BIGINT)
         AS compat_flags,
       CAST(CASE WHEN hevc = 1 THEN hl ELSE al END AS INT) AS level_idc,
       CASE WHEN hevc = 1
            THEN 'hev1.' || CAST(hp AS VARCHAR) || '.'
                 || CASE hp WHEN 1 THEN '6' ELSE 'c' END
                 || '.L' || CAST(hl AS VARCHAR)
            ELSE printf('avc1.%02x%02x%02x', ap, ac, al) END AS codec_string,
       CAST(k + 1 AS BIGINT) AS n_samples,
       CAST(40 * (k + 1) AS BIGINT) AS duration_ms
FROM v
UNION ALL
SELECT media_id, codec, CAST(width AS INT), CAST(height AS INT),
       CAST(profile_idc AS INT), CAST(compat_flags AS BIGINT),
       CAST(level_idc AS INT), codec_string,
       CAST(n_samples AS BIGINT), CAST(duration_ms AS BIGINT)
FROM (SELECT media_id, k FROM media WHERE k >= 18) m JOIN nb USING (k)
""",
)
def q_media_codec_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODEC-METADATA extraction — the operator a video-corpus curation
    pipeline runs on every file BEFORE committing to any decode (filter
    by codec string / resolution / length), and the honest boundary for
    inter-frame codecs this environment cannot decode: H.264/H.265
    frame DATA needs a codec library, but the stsd sample description
    and the avcC/hvcC configuration records are pure container bytes.
    Every doc maps to a valid MP4 from a bounded 18-payload broadcast
    codebook keyed by doc_id % 18 — even k carries a REAL avc1+avcC
    entry (profile {66,77,100}[k%3] = Baseline/Main/High, compat
    (k%4)·32, level {30,31,40,41,50}[k%5]), odd k a REAL hev1+hvcC
    entry (profile_idc 1+((k//2)%2) = Main/Main10, compat flags with
    the two profile bits set, Main tier, level_idc
    {90,93,120,123,150}[k%5]); all with width 64+16k, height
    48+16(k%3) and k+1 fake samples. Round 8 widens the codebook to
    24 variants (re-pin): k=18/20/22 carry REAL vp09+vpcC entries
    (VP Codec ISO binding §2.2.2 — profiles 0/1/2, 10-bit on profile
    2, ``vp09.PP.LL.DD`` strings) and k=19/21/23 are FRAGMENTED
    CMAF-shaped files (encode_minimal_fmp4: empty moov tables +
    mvex/trex + moof/traf/trun fragments) whose avc1/hev1/av01 stsd
    entries live in the INIT-segment moov — proving the same
    moov-only pass audits DASH/HLS corpora, with n_samples demuxed
    from the fragment runs and the mdhd duration honestly 0.
    Executors parse the VisualSampleEntry + config-record head and
    render the RFC 6381 codec string — ``avc1.PPCCLL`` hex, Annex-E
    ``hev1.P.C.Lnnn`` with the 32 compatibility bits BIT-REVERSED and
    zero constraint bytes trimmed, ``vp09``/``av01`` short forms
    (operators/mp4.parse_codec_profile) — joined with the demuxed
    sample count and mdhd duration. The closed-form oracle recomputes
    all of it from k, so a drift anywhere in the entry-offset
    arithmetic (the §12.1.3 fixed layout), the hvcC/vpcC/av1C bit
    unpacking, the fragment-run expansion, or the string rendering
    flips the hash. Plan: 24-row broadcast join + map-side parse,
    zero data shuffle."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        codec_profile,
        encode_minimal_fmp4,
        encode_minimal_mp4,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    profiles = [66, 77, 100]            # AVC Baseline / Main / High
    levels = [30, 31, 40, 41, 50]       # AVC 3.0 / 3.1 / 4.0 / 4.1 / 5.0
    hevc_levels = [90, 93, 120, 123, 150]  # HEVC 3.0 / 3.1 / 4.0 / 4.1 / 5.0
    def entry_kw(k: int) -> dict:
        if k % 2 == 0:
            return {"avc1": (
                64 + 16 * k, 48 + 16 * (k % 3),
                profiles[k % 3], (k % 4) * 32, levels[k % 5],
            )}
        hp = 1 + ((k // 2) % 2)         # Main / Main10
        return {"hev1": (
            64 + 16 * k, 48 + 16 * (k % 3),
            hp, 0b11 << (30 - hp), 0, hevc_levels[k % 5],
        )}

    def payload(k: int) -> bytes:
        sizes = [(k * 5 + i) % 30 + 1 for i in range(k + 1)]
        w, h = 64 + 16 * k, 48 + 16 * (k % 3)
        if k < 18:
            return encode_minimal_mp4(
                sizes, timescale=1000, frame_delta=40, **entry_kw(k),
            )
        if k in (18, 20, 22):  # vp09 — profile 0/1/2, 10-bit on 2
            pr = (k - 18) // 2
            lv = [10, 20, 31][pr]
            bd = 8 if pr < 2 else 10
            return encode_minimal_mp4(
                sizes, timescale=1000, frame_delta=40,
                vp09=(w, h, pr, lv, bd, 1, 0),
            )
        # CMAF-shaped fragmented init+segments, one codec family each
        entry: dict = {
            19: {"avc1": (w, h, 100, 0, 41)},
            21: {"hev1": (w, h, 2, 0b11 << 28, 0, 123)},
            23: {"av01": (w, h, 1, 13, 0, 1, 0, 0)},
        }[k]
        return encode_minimal_fmp4(
            sizes, timescale=1000, frame_delta=40,
            frames_per_fragment=3, **entry,
        )

    codebook = spark.createDataFrame(
        [(k, bytearray(payload(k))) for k in range(24)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 24).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return codec_profile(media.select("media_id", "payload"))


@query(
    "media_sps_cross_check",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 16 AS INT) AS k FROM documents
),
v AS (
  SELECT media_id, k,
         CASE k % 3 WHEN 0 THEN 66 WHEN 1 THEN 77 ELSE 100 END AS prof,
         (k % 4) * 32 AS cons,
         CASE k % 5 WHEN 0 THEN 30 WHEN 1 THEN 31 WHEN 2 THEN 40
                    WHEN 3 THEN 41 ELSE 50 END AS lev,
         64 + 16 * (k % 5) AS cw,
         48 + 16 * (k % 4) AS ch,
         64 + 16 * (k % 5) - 2 * (k % 3) AS sw,
         48 + 16 * (k % 4) - 2 * (k % 2) AS sh
  FROM media
)
SELECT media_id, 'avc1' AS codec,
       CAST(CASE WHEN k % 4 = 0 THEN sw + 16 ELSE sw END AS INT)
         AS container_width,
       CAST(CASE WHEN k % 4 = 0 THEN sh + 16 ELSE sh END AS INT)
         AS container_height,
       CAST(prof AS INT) AS sps_profile_idc,
       CAST(cons AS INT) AS sps_constraint_flags,
       CAST(lev AS INT) AS sps_level_idc,
       CAST(1 AS INT) AS sps_chroma_format_idc,
       CAST(cw AS INT) AS coded_width,
       CAST(ch AS INT) AS coded_height,
       CAST(sw AS INT) AS sps_width,
       CAST(sh AS INT) AS sps_height,
       k % 4 <> 0 AS dims_match
FROM v
""",
)
def q_media_sps_cross_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITSTREAM TRUTH vs CONTAINER CLAIM — the audit a scraped-video
    curation pipeline needs because stsd width/height are whatever the
    muxer wrote, while the H.264 SPS inside the avcC record is what a
    decoder obeys. Every doc maps to a valid MP4 from a bounded
    16-payload broadcast codebook keyed by doc_id % 16 — variant k's
    avcC carries a REAL SPS NAL (operators/h264.encode_sps: profile
    {66,77,100}[k%3] — the 100 rows exercise the high-profile
    chroma/bit-depth branch — constraint byte (k%4)·32, level
    {30,31,40,41,50}[k%5], coded size (4+k%5)×(3+k%4) macroblocks,
    frame cropping right k%3 / bottom k%2 crop units = 2 luma px each
    at 4:2:0). The stsd entry claims the SPS display size for
    k%4 != 0 and DELIBERATELY LIES (+16 px both axes) for k%4 == 0 —
    the mismatch rows a real corpus contains. Executors bit-parse the
    SPS (Exp-Golomb walk of §7.3.2.1.1 incl. the crop-unit math) and
    emit claims, truth, and the match bit; the closed-form oracle
    recomputes everything from k, so a drift anywhere in the bit
    reader, the Exp-Golomb decode, the high-profile branch, or the
    §7.4.2.1.1 crop-unit scaling flips the hash. Plan: 16-row
    broadcast join + moov-only map-side parse, zero data shuffle —
    the cheapest possible truth pass over a 100 TB video corpus.
    Reference: n/a (extension surface; the honest-boundary note at
    operators/multimodal.py — metadata, not frame decode)."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.h264 import encode_sps
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        sps_cross_check,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    profiles = [66, 77, 100]
    levels = [30, 31, 40, 41, 50]

    def payload(k: int) -> bytes:
        prof, cons, lev = profiles[k % 3], (k % 4) * 32, levels[k % 5]
        sps = encode_sps(
            prof, cons, lev,
            width_mbs=4 + (k % 5), height_map_units=3 + (k % 4),
            crop_right_units=k % 3, crop_bottom_units=k % 2,
        )
        sw = 16 * (4 + k % 5) - 2 * (k % 3)
        sh = 16 * (3 + k % 4) - 2 * (k % 2)
        lie = 16 if k % 4 == 0 else 0
        return encode_minimal_mp4(
            [(k * 7 + i) % 20 + 1 for i in range(k + 1)],
            avc1=(sw + lie, sh + lie, prof, cons, lev),
            avc1_sps=(sps,),
        )

    codebook = spark.createDataFrame(
        [(k, bytearray(payload(k))) for k in range(16)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 16).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return sps_cross_check(media.select("media_id", "payload"))


@query(
    "media_audio_codec_profile",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 16 AS INT) AS k FROM documents
),
v AS (
  SELECT media_id, k,
         1 + (k % 2) AS ch,
         CASE 3 + (k % 5) WHEN 3 THEN 48000 WHEN 4 THEN 44100
              WHEN 5 THEN 32000 WHEN 6 THEN 24000 ELSE 22050 END AS rate,
         CASE k % 3 WHEN 0 THEN 2 WHEN 1 THEN 5 ELSE 29 END AS aot
  FROM media WHERE k < 12
),
nb(k, codec, container_channels, container_sample_rate, asc_sample_rate,
   asc_channels, codec_string, rate_match) AS (VALUES
  (12, 'Opus', 2, 48000, 48000, 2, 'opus', TRUE),
  (13, 'Opus', 1, 24000, 16000, 1, 'opus', FALSE),
  (14, 'fLaC', 2, 44100, 44100, 2, 'fLaC', TRUE),
  (15, 'fLaC', 2, 44100, 22050, 2, 'fLaC', FALSE)
)
SELECT media_id AS asset_id, 'mp4a' AS codec,
       CAST(ch AS INT) AS container_channels,
       CAST(16 AS INT) AS sample_size,
       CAST(CASE WHEN k % 4 = 1 THEN rate // 2 ELSE rate END AS INT)
         AS container_sample_rate,
       CAST(64 AS INT) AS esds_oti,
       CAST(aot AS INT) AS esds_aot,
       CAST(rate AS INT) AS asc_sample_rate,
       CAST(ch AS INT) AS asc_channels,
       'mp4a.40.' || CAST(aot AS VARCHAR) AS codec_string,
       k % 4 <> 1 AS rate_match
FROM v
UNION ALL
SELECT media_id, codec, CAST(container_channels AS INT),
       CAST(16 AS INT), CAST(container_sample_rate AS INT),
       CAST(NULL AS INT), CAST(NULL AS INT),
       CAST(asc_sample_rate AS INT), CAST(asc_channels AS INT),
       codec_string, rate_match
FROM (SELECT media_id, k FROM media WHERE k >= 12) m JOIN nb USING (k)
""",
)
def q_media_audio_codec_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO codec-metadata extraction — the mp4a/esds twin of
    media_codec_profile for an audio corpus: the ``soun`` trak's
    AudioSampleEntry container claims (channels / 16.16 samplerate at
    the §12.2.3 fixed offsets) plus the esds descriptor chain's truth
    (ISO 14496-1 expandable-length BaseDescriptors → ES_Descriptor →
    DecoderConfigDescriptor OTI 0x40 → DecoderSpecificInfo
    AudioSpecificConfig: 5-bit audioObjectType, 4-bit
    samplingFrequencyIndex, 4-bit channelConfiguration), rendered as
    RFC 6381 ``mp4a.40.A``. Every doc maps to a valid audio MP4 from a
    bounded 16-payload broadcast codebook keyed by doc_id % 16 —
    variant k<12: 1+(k%2) channels, ASC freq index 3+(k%5)
    ({48000,44100,32000,24000,22050} Hz), AOT {2,5,29}[k%3]
    (AAC-LC / HE-AAC / HE-AACv2); odd k writes the PADDED 4-byte
    0x80-prefixed descriptor lengths real muxers emit. The container
    samplerate DELIBERATELY LIES (half the ASC truth) for k%4 == 1 —
    ``rate_match`` is the audit bit, mirroring the video SPS
    cross-check. Round 8 widens the codebook (re-pin): k=12/13 are
    Opus+dOps entries (Opus-in-BMFF §4.3 — k=13 violates the spec's
    samplerate==48000 requirement, rate_match=false) and k=14/15
    fLaC+dfLa entries (FLAC-in-BMFF §3.3 — STREAMINFO truth vs the
    container claim, k=15 lies), so ONE pass covers the whole
    audio-codec matrix AAC/HE-AAC/Opus/FLAC. The closed-form oracle
    recomputes everything from k, so a drift in the descriptor walk,
    the expandable-length decode, the ASC bit unpacking, the dOps
    fields, or the STREAMINFO bit packing flips the hash. Plan:
    16-row broadcast join + moov-only map-side parse, zero data
    shuffle. Reference: n/a (extension surface — the reference has no
    media path)."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        audio_codec_profile,
        encode_minimal_mp4,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    aots = [2, 5, 29]
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import _ASC_RATES

    def payload(k: int) -> bytes:
        sizes = [(k * 9 + i) % 25 + 1 for i in range(k + 1)]
        if k == 12:      # conformant Opus (container rate 48000)
            return encode_minimal_mp4(sizes, opus=(2, 48000, 48000))
        if k == 13:      # Opus violating samplerate==48000
            return encode_minimal_mp4(sizes, opus=(1, 24000, 16000))
        if k == 14:      # FLAC, STREAMINFO agrees with container
            return encode_minimal_mp4(sizes, flac=(2, 44100, 44100))
        if k == 15:      # FLAC, container lies vs STREAMINFO
            return encode_minimal_mp4(sizes, flac=(2, 44100, 22050))
        rate = _ASC_RATES[3 + (k % 5)]
        # the lie must fit the u16-integral 16.16 field, so halve
        claimed = rate // 2 if k % 4 == 1 else rate
        return encode_minimal_mp4(
            sizes,
            mp4a=(
                1 + (k % 2), claimed, aots[k % 3], 3 + (k % 5),
                None, k % 2 == 1,
            ),
        )

    codebook = spark.createDataFrame(
        [(k, bytearray(payload(k))) for k in range(16)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 16).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    # oti/aot are esds-specific and NULL for Opus/FLAC entries; the
    # esds_ prefix (with asset_id) makes the alphabetically-first
    # columns of the driver's sorted-row compare non-null with a
    # unique prefix, so nulls are never ordered against values.
    return (
        audio_codec_profile(media.select("media_id", "payload"))
        .withColumnRenamed("media_id", "asset_id")
        .withColumnRenamed("oti", "esds_oti")
        .withColumnRenamed("aot", "esds_aot")
    )


@query(
    "media_hevc_sps_cross_check",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 14 AS INT) AS k FROM documents
),
v AS (
  SELECT media_id, k,
         1 + (k % 2) AS prof,
         (k // 2) % 2 AS tier,
         CASE k % 5 WHEN 0 THEN 90 WHEN 1 THEN 93 WHEN 2 THEN 120
                    WHEN 3 THEN 123 ELSE 150 END AS lev,
         CASE k % 4 WHEN 2 THEN 2 WHEN 3 THEN 3 ELSE 1 END AS cf,
         64 + 16 * (k % 5) AS cw,
         48 + 16 * (k % 4) AS ch
  FROM media
),
w AS (
  SELECT *,
         CASE WHEN cf IN (1, 2) THEN 2 ELSE 1 END AS sub_w,
         CASE WHEN cf = 1 THEN 2 ELSE 1 END AS sub_h
  FROM v
),
x AS (
  SELECT *,
         cw - sub_w * (k % 3) AS sw,
         ch - sub_h * (k % 2) AS sh
  FROM w
)
SELECT media_id, 'hev1' AS codec,
       CAST(CASE WHEN k % 4 = 2 THEN sw + 16 ELSE sw END AS INT)
         AS container_width,
       CAST(CASE WHEN k % 4 = 2 THEN sh + 16 ELSE sh END AS INT)
         AS container_height,
       CAST(prof AS INT) AS sps_profile_idc,
       CAST(tier AS INT) AS sps_tier_flag,
       CAST(lev AS INT) AS sps_level_idc,
       CAST(cf AS INT) AS sps_chroma_format_idc,
       CAST(cw AS INT) AS coded_width,
       CAST(ch AS INT) AS coded_height,
       CAST(sw AS INT) AS sps_width,
       CAST(sh AS INT) AS sps_height,
       k % 4 <> 2 AS dims_match,
       k % 7 <> 3 AS record_match
FROM x
""",
)
def q_media_hevc_sps_cross_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HEVC twin of media_sps_cross_check — H.265 is the OTHER
    codec a scraped-video corpus carries at volume, and it lies in one
    more place: besides the stsd container dims, the hvcC record HEAD
    (profile/tier/level, §8.3.3.1) is often rebuilt by re-muxers while
    the SPS NAL inside it stays untouched. Every doc maps to a valid
    MP4 from a bounded 14-payload broadcast codebook keyed by
    doc_id % 14 — variant k's hvcC carries a REAL HEVC SPS NAL
    (operators/h265.encode_hevc_sps: profile 1+(k%2) = Main/Main10,
    tier (k//2)%2, level {90,93,120,123,150}[k%5], chroma_format_idc
    {1,1,2,3}[k%4] — exercising every SubWidthC/SubHeightC crop-unit
    branch of §7.4.3.2.1 — coded size (64+16(k%5))×(48+16(k%4)),
    conformance-window crop right k%3 / bottom k%2 units). The stsd
    claims DELIBERATELY LIE (+16 px) for k%4 == 2, and the hvcC head's
    level_idc lies (+3) for k%7 == 3 — dims_match and record_match are
    the two audit bits. Executors bit-parse the SPS (h265.parse_hevc_sps:
    fixed-width profile_tier_level, Exp-Golomb geometry walk) and the
    closed-form oracle recomputes everything from k. Plan: 14-row
    broadcast join + moov-only map-side parse, zero data shuffle.
    Reference: n/a (extension surface)."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.h265 import (
        encode_hevc_sps,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        hevc_sps_cross_check,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    levels = [90, 93, 120, 123, 150]
    chroma = [1, 1, 2, 3]

    def payload(k: int) -> bytes:
        prof, tier, lev = 1 + (k % 2), (k // 2) % 2, levels[k % 5]
        cf = chroma[k % 4]
        cw, ch = 64 + 16 * (k % 5), 48 + 16 * (k % 4)
        sps = encode_hevc_sps(
            prof, tier, lev, cw, ch,
            crop_right_units=k % 3, crop_bottom_units=k % 2,
            chroma_format_idc=cf,
        )
        sub_w = 2 if cf in (1, 2) else 1
        sub_h = 2 if cf == 1 else 1
        sw, sh = cw - sub_w * (k % 3), ch - sub_h * (k % 2)
        lie = 16 if k % 4 == 2 else 0
        head_lev = lev + (3 if k % 7 == 3 else 0)
        return encode_minimal_mp4(
            [(k * 11 + i) % 20 + 1 for i in range(k + 1)],
            hev1=(sw + lie, sh + lie, prof, (0b11 << 30), tier, head_lev),
            hev1_sps=(sps,),
        )

    codebook = spark.createDataFrame(
        [(k, bytearray(payload(k))) for k in range(14)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 14).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return hevc_sps_cross_check(media.select("media_id", "payload"))


@query(
    "media_av1_codec_profile",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 10 AS INT) AS k FROM documents
),
v AS (
  SELECT media_id, k,
         k % 3 AS prof,
         (2 * k + 1) % 24 AS lev,
         k % 2 AS tier,
         (k // 2) % 2 AS hbd,
         CASE WHEN k % 3 = 2 AND k % 5 = 0 THEN 1 ELSE 0 END AS twelve
  FROM media
),
w AS (
  SELECT *,
         CASE WHEN hbd = 0 THEN 8
              WHEN prof = 2 AND twelve = 1 THEN 12
              ELSE 10 END AS depth
  FROM v
)
SELECT media_id, 'av01' AS codec,
       CAST(64 + 32 * k AS INT) AS width,
       CAST(48 + 16 * (k % 4) AS INT) AS height,
       CAST(prof AS INT) AS profile_idc,
       CAST(NULL AS BIGINT) AS compat_flags,
       CAST(lev AS INT) AS level_idc,
       printf('av01.%d.%02d%s.%02d', prof, lev,
              CASE WHEN tier = 1 THEN 'H' ELSE 'M' END, depth)
         AS codec_string,
       CAST(k + 1 AS BIGINT) AS n_samples,
       CAST(40 * (k + 1) AS BIGINT) AS duration_ms
FROM w
""",
)
def q_media_av1_codec_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AV1 codec-metadata extraction — the third codec family of the
    curation-filter pass (media_codec_profile covers AVC/HEVC): the
    av1C AV1CodecConfigurationRecord (public AV1-ISOBMFF binding §2.3)
    is pure fixed bits — marker/version, seq_profile(3),
    seq_level_idx_0(5), seq_tier_0(1), high_bitdepth(1), twelve_bit(1),
    monochrome(1), chroma subsampling — rendered as the binding §5
    short-form Codecs Parameter String ``av01.P.LLT.DD`` (decimal
    profile, 2-digit level, M/H tier, 2-digit bit depth from the
    profile-dependent §6.4.1 depth rule: profile 2 + high_bitdepth +
    twelve_bit → 12, high_bitdepth → 10, else 8). Every doc maps to a
    valid MP4 from a bounded 10-payload broadcast codebook keyed by
    doc_id % 10 — variant k: profile k%3, level (2k+1)%24, tier k%2,
    high_bitdepth (k//2)%2, twelve_bit only where profile 2 allows it
    — joined with the demuxed sample count and mdhd duration through
    the same codec_profile operator, proving one pass handles a MIXED
    AVC/HEVC/AV1 corpus. Closed-form oracle over k. Plan: 10-row
    broadcast join + moov-only map-side parse, zero data shuffle.
    Reference: n/a (extension surface)."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        codec_profile,
        encode_minimal_mp4,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")

    def payload(k: int) -> bytes:
        prof = k % 3
        twelve = 1 if (prof == 2 and k % 5 == 0) else 0
        return encode_minimal_mp4(
            [(k * 13 + i) % 22 + 1 for i in range(k + 1)],
            timescale=1000, frame_delta=40,
            av01=(
                64 + 32 * k, 48 + 16 * (k % 4),
                prof, (2 * k + 1) % 24, k % 2, (k // 2) % 2, twelve, 0,
            ),
        )

    codebook = spark.createDataFrame(
        [(k, bytearray(payload(k))) for k in range(10)],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 10).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return codec_profile(media.select("media_id", "payload"))


@query(
    "media_fmp4_video_frames",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 10 AS INT) AS k FROM documents
),
frames AS (
  SELECT media_id, k, CAST(s.i AS INT) AS frame_idx
  FROM media, UNNEST(generate_series(0, k)) AS s(i)
  WHERE s.i % 2 = 0
)
SELECT media_id, frame_idx,
       CAST(40 * frame_idx AS BIGINT) AS pts,
       8 AS width, 8 AS height,
       CAST(64 * ((k * 23 + frame_idx * 31) % 256) AS BIGINT) AS pixel_sum,
       CAST((k * 23 + frame_idx * 31) % 256 AS INT) AS pixel_min,
       CAST((k * 23 + frame_idx * 31) % 256 AS INT) AS pixel_max
FROM frames
""",
)
def q_media_fmp4_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRAGMENTED-MP4 video decode end-to-end — the container layout
    DASH/HLS segments actually ship (empty moov sample tables; samples
    described per-fragment by moof/traf/tfhd/tfdt/trun, ISO 14496-12
    §8.8). Every doc maps to a valid fragmented MJPEG file from a
    bounded 10-payload broadcast codebook keyed by doc_id % 10 —
    variant k carries k+1 constant-gray JPEG frames of gray
    (k·23 + i·31) % 256, two samples per moof+mdat fragment
    (operators/mp4.encode_minimal_fmp4). Executors expand the fragment
    runs (trex defaults, default-base-is-moof addressing, tfdt time
    anchors, trun data-offset + per-sample sizes), slice every-2nd
    frame, and decode each slice with the T.81 codec — all inside one
    Arrow mapInPandas (the same decode_video_frames_memo operator as the
    progressive gate: parse_mp4 dispatches on the empty-stsz
    fragmented shape). The closed-form pixel oracle makes any drift in
    the moof math undecodable or wrong-gray — either flips the hash.
    Plan: 10-row broadcast join + map-side demux+decode, zero data
    shuffle."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.jpeg import encode_jpeg
    from bigdata_invoice_stream_analysis_spark.operators.mediadecode import (
        decode_video_frames_memo as decode_video_frames,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_fmp4,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")
    codebook = spark.createDataFrame(
        [
            (k, bytearray(encode_minimal_fmp4(
                frames=[
                    encode_jpeg(
                        bytes([(k * 23 + i * 31) % 256] * 64), 8, 8, quality=75
                    )
                    for i in range(k + 1)
                ],
                timescale=1000, frame_delta=40, frames_per_fragment=2,
            )))
            for k in range(10)
        ],
        "k int, payload binary",
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 10).cast("int").alias("k"),
    ).join(F.broadcast(codebook), "k")
    return decode_video_frames(media.select("media_id", "payload"), every_n=2)


@query(
    "media_cue_alignment",
    oracle="""
WITH media AS (
  SELECT doc_id AS media_id, CAST(doc_id % 8 AS INT) AS k FROM documents
),
cues AS (
  SELECT media_id, k, CAST(s.i AS INT) AS j
  FROM media, UNNEST(generate_series(0, k % 2 + 1)) AS s(i)
),
h AS (
  SELECT media_id, k, j,
    CASE WHEN (2 * j) % 3 = 0 AND 2 * j < k + 3 THEN 1 ELSE 0 END AS c1,
    CASE WHEN (2 * j + 1) % 3 = 0 AND 2 * j + 1 < k + 3
         THEN 1 ELSE 0 END AS c2
  FROM cues
)
SELECT media_id, j AS cue_idx,
  CAST(80 * j AS BIGINT) AS start_ms,
  CAST(80 * j + 60 AS BIGINT) AS end_ms,
  'cue ' || CAST(k AS VARCHAR) || ' ' || CAST(j AS VARCHAR) AS text,
  CAST(c1 + c2 AS BIGINT) AS n_keyframes,
  CAST(40 * CASE WHEN c1 = 1 THEN 2 * j ELSE 2 * j + 1 END AS BIGINT)
    AS first_kf_pts
FROM h WHERE c1 + c2 > 0
""",
)
def q_media_cue_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO-TEXT ALIGNMENT, the join that turns
    a scraped video corpus into training pairs — each subtitle cue
    matched to the sync samples (keyframes) inside its time window,
    because only sync samples decode without inter-frame context, so
    "one frame per caption" sampling must pick from them. Composes two
    graded/staged operators: mp4.frame_index(keyframes_only=True) over
    a k-keyed MP4 codebook (timescale 1000 → pts IS ms; stss marks
    every 3rd sample) and subtitles.subtitle_cues over a matching VTT
    codebook (cue j spans [80j, 80j+60) ms). Plan: both sides are
    map-side explosions off bounded broadcasts; the alignment is ONE
    equi-join shuffle on media_id with the range predicate evaluated
    post-join — at 100 TB the same shape co-partitions both sides on
    media_id once. The closed-form oracle recomputes keyframe hits per
    window from k (pts 40i, stss every 3rd sample → the hits in cue
    window [80j, 80j+60) are exactly i ∈ {2j, 2j+1} with i%3==0 and
    i<k+3); cues with zero sync samples drop out of the inner join —
    a drift in the stss parse, the cue timing math, or the join
    predicate flips the hash."""
    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
        encode_minimal_mp4,
        frame_index,
    )
    from bigdata_invoice_stream_analysis_spark.operators.subtitles import (
        subtitle_cues,
    )

    ensure_package_on_workers(spark)
    d = load_table(spark, sf_dir, "documents")

    def mp4_payload(k: int) -> bytes:
        n = k + 3
        return encode_minimal_mp4(
            [(k + i) % 17 + 4 for i in range(n)],
            timescale=1000, frame_delta=40,
            keyframes=list(range(0, n, 3)),
        )

    def vtt_payload(k: int) -> bytes:
        cues = "\n\n".join(
            f"00:00:{(80 * j) // 1000:02d}.{(80 * j) % 1000:03d} --> "
            f"00:00:{(80 * j + 60) // 1000:02d}.{(80 * j + 60) % 1000:03d}\n"
            f"cue {k} {j}"
            for j in range(2 + k % 2)
        )
        return f"WEBVTT\n\n{cues}\n".encode()

    mp4_book = spark.createDataFrame(
        [(k, bytearray(mp4_payload(k))) for k in range(8)],
        "k int, payload binary",
    )
    vtt_book = spark.createDataFrame(
        [(k, bytearray(vtt_payload(k))) for k in range(8)],
        "k int, payload binary",
    )
    keyed = d.select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8).cast("int").alias("k"),
    )
    kf = frame_index(
        keyed.join(F.broadcast(mp4_book), "k")
        .select("media_id", "payload"),
        keyframes_only=True,
    )
    cues = subtitle_cues(
        keyed.join(F.broadcast(vtt_book), "k")
        .select("media_id", "payload"),
    )
    hits = cues.join(kf, "media_id").where(
        (F.col("pts") >= F.col("start_ms")) & (F.col("pts") < F.col("end_ms"))
    )
    return (
        hits.groupBy("media_id", "cue_idx", "start_ms", "end_ms", "text")
        .agg(
            F.count(F.lit(1)).alias("n_keyframes"),
            F.min("pts").alias("first_kf_pts"),
        )
    )
