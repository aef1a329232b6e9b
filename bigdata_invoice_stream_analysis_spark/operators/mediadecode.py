"""Distinct-payload-memoized video frame decode (r9 optimization).

``decode_video_frames_memo`` is the package's MJPEG-in-MP4 frame
decode operator: it runs ``operators.mp4.decode_mjpeg_frames`` inside
Arrow mapInPandas, and inside each task it decodes every DISTINCT
payload once and reuses the per-frame stat rows (guide §8 — decode
heavy bytes once, reuse the lightweight result). Real corpora carry
repeated blobs (re-uploads, codebooked fixture media: 10-16 distinct
payloads fanned over thousands of rows), and the MJPEG demux+decode
is a pure function of the payload bytes, so the memo changes nothing
about the output. The memo lives
in the task closure only — nothing persists across tasks, queries,
or runs.

This lives in its own module (not mp4.py) so the parser module, and
every MP4-adjacent row built on it (codec profiles, SPS cross-checks,
frame indexes), stays untouched by the memo.
"""

from __future__ import annotations


def decode_video_frames_memo(media, every_n: int = 1):
    """(media_id, payload) → one row per kept frame with exact pixel
    stats (frame index, pts, size, pixel sum/min/max), decode memoized
    per distinct payload within each task. Payloads and pixel buffers
    never leave the executors; the package is imported on workers
    (deploy.ensure_package_on_workers)."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("pts", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("pixel_sum", T.LongType(), False),
        T.StructField("pixel_min", T.IntegerType(), False),
        T.StructField("pixel_max", T.IntegerType(), False),
    ])

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.memo import (
            BoundedMemo,
            payload_key,
        )
        from bigdata_invoice_stream_analysis_spark.operators.mp4 import (
            decode_mjpeg_frames,
        )

        # Bounded digest-keyed memo (operators/memo.py): retains only
        # 16-byte keys + stat tuples, never the payload bytes, and caps
        # entries so high-cardinality corpora cannot grow it unbounded.
        memo = BoundedMemo()

        def frame_rows(p: bytes) -> list[tuple]:
            k = payload_key(p)
            rows = memo.get(k)
            if rows is None:
                rows = []
                for fr in decode_mjpeg_frames(p, every_n=every_n):
                    px = fr["pixels"]
                    rows.append((
                        fr["frame_idx"], fr["pts"], fr["width"],
                        fr["height"], sum(px), min(px), max(px),
                    ))
                memo.put(k, rows)
            return rows

        for pdf in it:
            out = {k: [] for k in (
                "media_id", "frame_idx", "pts", "width", "height",
                "pixel_sum", "pixel_min", "pixel_max",
            )}
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                for idx, pts, w, h, psum, pmin, pmax in frame_rows(bytes(p)):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["pts"].append(pts)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["pixel_sum"].append(psum)
                    out["pixel_min"].append(pmin)
                    out["pixel_max"].append(pmax)
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=out_schema)
