"""Iceberg table-metadata walk — the third lakehouse control plane,
built on the from-scratch Avro reader.

Per the public Apache Iceberg table spec: a table's current state is
a ``vN.metadata.json`` (snapshots + schemas + partition specs); each
snapshot points at a MANIFEST LIST (an Avro file of ``manifest_file``
records); each manifest is itself an Avro file of ``manifest_entry``
records (status added/existing/deleted + a ``data_file`` struct with
path, format, record count, byte size, partition tuple).  The live
file set of a snapshot is every entry with status != deleted across
its manifests — Iceberg's answer to Delta's log replay, resolved by
two levels of Avro indirection instead of JSON action reconciliation
(see operators/deltalog.py for that walk; operators/parquetmeta.py
reads the data files' own footers).

Scope is the read path a scan planner needs: snapshot resolution,
manifest-entry explosion (map-side Avro decode, one manifest per
row), live-file filtering and per-partition pruning stats.  Column
bounds/stats maps and field-id schema evolution are out of scope
(documented boundary); the fixture encoders emit a spec-shaped
subset schema that our own reader — and any schema-driven Avro
reader — decodes.

Scale posture: metadata-scale like the Delta log — manifests are
KBs-per-thousand-files, so the whole plan (decode → filter → join
against a query predicate) shuffles manifest rows, never data.

Reference: n/a (extension surface).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

# Spec-shaped (subset) manifest schemas: field names follow the
# Iceberg spec's avro schemas (v2 names).
MANIFEST_FILE_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
    ],
}

DATA_FILE_SCHEMA = {
    "type": "record", "name": "data_file",
    "fields": [
        {"name": "content", "type": "int"},
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {"name": "partition", "type": {"type": "map",
                                       "values": "string"}},
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
    ],
}

MANIFEST_ENTRY_SCHEMA = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {"name": "data_file", "type": DATA_FILE_SCHEMA},
    ],
}

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2


def snapshot_info(metadata_json: str | bytes) -> dict:
    """Resolve the current snapshot from a vN.metadata.json (spec
    field names, v1 and v2): ``{table_uuid, format_version,
    current_snapshot_id, manifest_list, operation, n_snapshots}``.
    The metadata file is a few KB — this is a driver-side read by
    design."""
    meta = json.loads(metadata_json)
    snap_id = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots", [])
    current = next(
        (s for s in snaps if s.get("snapshot-id") == snap_id), None)
    if snap_id in (None, -1) or current is None:
        raise ValueError("iceberg: no current snapshot in metadata")
    return {
        "table_uuid": meta.get("table-uuid"),
        "format_version": meta.get("format-version"),
        "current_snapshot_id": snap_id,
        "manifest_list": current.get("manifest-list"),
        "operation": (current.get("summary") or {}).get("operation"),
        "n_snapshots": len(snaps),
    }


def manifest_entries(manifests: DataFrame) -> DataFrame:
    """Explode (manifest_path string, payload binary) Avro manifests
    into one row per entry.  Map-side Avro decode; a manifest that
    fails to parse becomes quarantine rows (status = -1) rather than
    a dead task."""
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("manifest_path", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("snapshot_id", T.LongType(), True),
        T.StructField("file_path", T.StringType(), True),
        T.StructField("file_format", T.StringType(), True),
        T.StructField("partition_json", T.StringType(), True),
        T.StructField("record_count", T.LongType(), True),
        T.StructField("file_size_in_bytes", T.LongType(), True),
        T.StructField("error", T.StringType(), True),
    ])
    cols = [f.name for f in out_schema.fields]

    def batches(it):
        import pandas as pd

        from bigdata_invoice_stream_analysis_spark.operators.avro import (
            parse_avro,
        )

        for pdf in it:
            out = {k: [] for k in cols}

            def emit(path, **kw):
                row = dict.fromkeys(cols)
                row["manifest_path"] = path
                row.update(kw)
                for k in cols:
                    out[k].append(row[k])

            for path, p in zip(pdf["manifest_path"], pdf["payload"]):
                try:
                    meta = parse_avro(bytes(p))
                except ValueError as exc:
                    emit(path, status=-1, error=str(exc)[:120])
                    continue
                for rec in meta["records"]:
                    df_ = rec.get("data_file") or {}
                    emit(
                        path,
                        status=rec.get("status", -1),
                        snapshot_id=rec.get("snapshot_id"),
                        file_path=df_.get("file_path"),
                        file_format=df_.get("file_format"),
                        partition_json=json.dumps(
                            df_.get("partition") or {},
                            sort_keys=True),
                        record_count=df_.get("record_count"),
                        file_size_in_bytes=df_.get(
                            "file_size_in_bytes"),
                    )
            yield pd.DataFrame(out)

    return manifests.mapInPandas(batches, schema=out_schema)


def live_files(entries: DataFrame) -> DataFrame:
    """The snapshot's scannable file set: every non-deleted,
    non-quarantine entry."""
    return entries.where(
        (F.col("status") >= 0) & (F.col("status") != STATUS_DELETED)
    ).select("file_path", "file_format", "partition_json",
             "record_count", "file_size_in_bytes")


def partition_stats(entries: DataFrame) -> DataFrame:
    """Per-partition pruning table: file/row/byte totals over the
    live set — what a scan planner consults before touching data."""
    return (
        live_files(entries)
        .groupBy("partition_json")
        .agg(F.count("*").alias("n_files"),
             F.sum("record_count").alias("n_rows"),
             F.sum("file_size_in_bytes").alias("n_bytes"))
    )


# --- fixture encoders ------------------------------------------------------


def encode_manifest(entries: list[dict], **avro_kw) -> bytes:
    """entries: [{status, snapshot_id, file_path, file_format,
    partition: {...}, record_count, file_size_in_bytes}]."""
    from bigdata_invoice_stream_analysis_spark.operators.avro import (
        encode_avro,
    )

    records = [{
        "status": e["status"],
        "snapshot_id": e.get("snapshot_id"),
        "data_file": {
            "content": e.get("content", 0),
            "file_path": e["file_path"],
            "file_format": e.get("file_format", "PARQUET"),
            "partition": {str(k): str(v) for k, v
                          in (e.get("partition") or {}).items()},
            "record_count": e.get("record_count", 0),
            "file_size_in_bytes": e.get("file_size_in_bytes", 0),
        },
    } for e in entries]
    return encode_avro(MANIFEST_ENTRY_SCHEMA, records, **avro_kw)


def encode_manifest_list(manifests: list[dict], **avro_kw) -> bytes:
    from bigdata_invoice_stream_analysis_spark.operators.avro import (
        encode_avro,
    )

    records = [{
        "manifest_path": m["manifest_path"],
        "manifest_length": m.get("manifest_length", 0),
        "partition_spec_id": m.get("partition_spec_id", 0),
        "content": m.get("content", 0),
        "added_files_count": m.get("added_files_count", 0),
        "existing_files_count": m.get("existing_files_count", 0),
        "deleted_files_count": m.get("deleted_files_count", 0),
    } for m in manifests]
    return encode_avro(MANIFEST_FILE_SCHEMA, records, **avro_kw)


def encode_table_metadata(
    *,
    table_uuid: str = "11111111-2222-3333-4444-555555555555",
    snapshots: list[dict],
    current_snapshot_id: int,
) -> str:
    """snapshots: [{snapshot_id, manifest_list, operation}] with
    deterministic timestamps derived from the snapshot id."""
    return json.dumps({
        "format-version": 2,
        "table-uuid": table_uuid,
        "location": "warehouse/table",
        "current-snapshot-id": current_snapshot_id,
        "snapshots": [{
            "snapshot-id": s["snapshot_id"],
            "timestamp-ms": 1700000000000 + s["snapshot_id"] * 60000,
            "manifest-list": s["manifest_list"],
            "summary": {"operation": s.get("operation", "append")},
        } for s in snapshots],
    }, sort_keys=True)
