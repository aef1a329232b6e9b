"""VARIANT-based semi-structured JSON: typed shredding with drift-
to-NULL semantics, per-path schema-drift histograms, and the
field-inventory profile via variant_explode."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bigdata_invoice_stream_analysis_spark.functions.variantjson import (
    json_schema_drift,
    shred_json,
)

EVENTS = [
    (0, '{"user": {"id": 7, "name": "ann"}, "tags": ["a", "b"],'
        ' "ts": 1700000000}'),
    (1, '{"user": {"id": 8}, "tags": [], "ts": 1700000060,'
        ' "extra": {"depth": 2}}'),
    # drift: id became a string, ts became ISO text
    (2, '{"user": {"id": "9"}, "ts": "2024-01-01T00:00:00Z"}'),
    (3, 'not json at all'),
    (4, '{"user": null, "ts": 1700000120}'),
]


def _df(spark):
    return spark.createDataFrame(EVENTS, "event_id long, body string")


def test_shred_typed_paths_with_drift_nulls(spark):
    out = {r["event_id"]: r for r in shred_json(
        _df(spark), "body",
        [("$.user.id", "bigint"), ("$.tags[0]", "string"),
         ("$.ts", "bigint")],
        keep=["event_id"],
    ).collect()}
    assert out[0]["user_id"] == 7
    assert out[0]["tags_0"] == "a"
    assert out[0]["ts"] == 1700000000
    assert out[1]["user_id"] == 8 and out[1]["tags_0"] is None
    # drifted string id: try_variant_get("bigint")'s semantics decide
    # (string->bigint coerces when numeric); the key property is row
    # 2 NEVER fails the job, and _corrupt stays false
    assert out[2]["_corrupt"] is False
    assert out[3]["_corrupt"] is True
    assert out[3]["user_id"] is None
    assert out[4]["user_id"] is None


def test_schema_drift_histogram(spark):
    drift = {(r["path"], r["value_schema"]): r["n"]
             for r in json_schema_drift(
                 _df(spark), "body",
                 ["$.user.id", "$.ts", "$.extra"]).collect()}
    assert drift[("$.user.id", "BIGINT")] == 2
    assert drift[("$.user.id", "STRING")] == 1
    assert drift[("$.user.id", "missing")] == 2  # corrupt + null-user
    assert drift[("$.ts", "BIGINT")] == 3
    assert drift[("$.ts", "STRING")] == 1
    # $.extra appears once as an object schema
    extra = [k for k in drift if k[0] == "$.extra"
             and k[1].startswith("OBJECT")]
    assert len(extra) == 1 and drift[extra[0]] == 1


def test_plans_stay_jvm_side(spark):
    df = shred_json(_df(spark), "body", [("$.user.id", "bigint")])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan
    plan2 = (json_schema_drift(_df(spark), "body", ["$.ts"])
             ._jdf.queryExecution().executedPlan().toString())
    assert "PythonUDF" not in plan2
