"""Shard EXPORT — how curated data leaves the engine.

The read side of this package ingests WebDataset tars and TFRecord
shards (operators/wds.py, operators/tfrecord.py); this module is the
matching write side: distributed, deterministic shard packing with a
manifest DataFrame as the result, so an end-to-end curation run is
read → filter/dedup/score → PACK → ship.

Design points:

* Sharding is an EXPLICIT column (``shard``) the caller derives —
  usually ``hash(key) % n_shards`` or a monotonically bucketed sort
  key — because shard assignment is a data-layout decision (locality,
  curriculum order) the engine must not improvise.
* One ``applyInPandas`` group per shard writes one file; members are
  sorted by (key, ext) inside the shard so the same input produces
  byte-identical shards on any partitioning (the writers underneath
  are the deterministic fixture encoders, pinned mtime/uid and all).
* The operator RETURNS a manifest (shard, path, samples, files,
  bytes) — the thing downstream jobs and audits consume; writing
  happens executor-side to ``out_dir`` (a shared filesystem in a
  real cluster, exactly like checkpoint locations).
* Round-trip-verified in the unit suite by re-reading the written
  shards with this repo's own parsers AND (for tars) the stdlib.

Reference: n/a (extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_webdataset_shards(
    components: DataFrame,
    out_dir: str,
    *,
    prefix: str = "shard",
) -> DataFrame:
    """Pack (shard int, key string, ext string, payload binary) rows
    into one WebDataset tar per shard: members named ``{key}.{ext}``,
    sorted by (key, ext).  Returns the manifest DataFrame."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("n_files", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ])

    def pack(pdf):
        import os

        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.wds import (
            encode_tar,
        )

        shard = int(pdf["shard"].iloc[0])
        rows = sorted(
            zip(pdf["key"], pdf["ext"], pdf["payload"]),
            key=lambda r: (r[0], r[1]),
        )
        entries = [(f"{k}.{e}", bytes(p)) for k, e, p in rows]
        blob = encode_tar(entries)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{prefix}-{shard:06d}.tar")
        tmp = path + ".inprogress"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)  # atomic publish
        return pd.DataFrame({
            "shard": [shard],
            "path": [path],
            "n_samples": [len({k for k, _, _ in rows})],
            "n_files": [len(rows)],
            "n_bytes": [len(blob)],
        })

    return components.groupBy("shard").applyInPandas(
        pack, schema=out_schema)


def write_tfrecord_shards(
    examples: DataFrame,
    out_dir: str,
    *,
    prefix: str = "part",
) -> DataFrame:
    """Pack (shard int, key string, example binary) rows — where
    ``example`` is an encoded ``tf.train.Example`` (see
    operators/tfrecord.encode_example) — into one CRC-framed
    TFRecord file per shard, records sorted by key.  Returns the
    manifest DataFrame."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
    ])

    def pack(pdf):
        import os

        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.tfrecord import (
            encode_tfrecords,
        )

        shard = int(pdf["shard"].iloc[0])
        payloads = [bytes(p) for _, p in sorted(
            zip(pdf["key"], pdf["example"]),
            key=lambda r: r[0])]
        blob = encode_tfrecords(payloads)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(
            out_dir, f"{prefix}-{shard:06d}.tfrecord")
        tmp = path + ".inprogress"
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, path)
        return pd.DataFrame({
            "shard": [shard],
            "path": [path],
            "n_records": [len(payloads)],
            "n_bytes": [len(blob)],
        })

    return examples.groupBy("shard").applyInPandas(
        pack, schema=out_schema)
