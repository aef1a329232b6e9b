"""Semi-structured JSON at scale via Spark 4's VARIANT type.

Heterogeneous JSON (API events, scraped metadata, model-output
logs) historically forced a choice: rigid ``from_json`` schemas that
silently null out drifting fields, or string columns re-parsed by
every query.  VARIANT (``parse_json`` → binary-encoded semi-
structured values + ``variant_get`` path extraction) is the Spark-4
answer: parse ONCE, extract typed paths lazily, keep schema drift
visible instead of silently swallowed.

Three operators:

* ``shred_json`` — parse + typed path extraction in one projection:
  ``try_variant_get`` per requested (path, type), so a path whose
  type drifted yields NULL for the mismatched rows instead of
  failing the cast (and the drift audit below shows where).
* ``json_schema_drift`` — per-path physical-type histogram via
  ``schema_of_variant`` over each extracted path: the audit that
  catches producers changing ``"id": 7`` to ``"id": "7"`` before a
  rigid pipeline nulls a quarter of the corpus.
Both are single-projection / single-aggregation Column algebra
over the VARIANT binary encoding — no Python, no per-query
re-parse.  Malformed JSON: ``try_parse_json`` rows surface as
``_corrupt = true`` rather than failing the task.

Reference: n/a (extension surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def shred_json(
    df: DataFrame,
    json_col: str,
    paths: list[tuple[str, str]],
    *,
    keep: list[str] | None = None,
) -> DataFrame:
    """Parse ``json_col`` once and extract typed paths.

    ``paths``: [(variant_path, sql_type)] e.g. ``[("$.user.id",
    "bigint"), ("$.tags[0]", "string")]``; output column names are
    derived from the path (``user_id``, ``tags_0``).  Extraction
    uses ``try_variant_get`` so type drift yields NULL, not a failed
    cast; unparseable JSON rows carry ``_corrupt = true`` and NULL
    paths."""
    v = F.try_parse_json(F.col(json_col))
    cols = [F.col(c) for c in (keep or [])]
    cols.append(v.isNull().alias("_corrupt"))
    for path, sql_type in paths:
        name = (
            path.removeprefix("$.")
            .replace(".", "_").replace("[", "_").replace("]", "")
            .replace("$", "root")
        )
        cols.append(
            F.try_variant_get(v, path, sql_type).alias(name))
    return df.select(*cols)


def json_schema_drift(
    df: DataFrame, json_col: str, paths: list[str]
) -> DataFrame:
    """(path, value_schema, n) — the physical type each path
    actually carries, counted over the corpus.  One projection + one
    map-side-combinable aggregation; ``missing`` rows mean the path
    is absent (or the document failed to parse)."""
    v = F.try_parse_json(F.col(json_col))
    pairs = F.array(*[
        F.struct(
            F.lit(p).alias("path"),
            F.coalesce(
                F.schema_of_variant(
                    F.try_variant_get(v, p, "variant")),
                F.lit("missing"),
            ).alias("value_schema"),
        )
        for p in paths
    ])
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.path").alias("path"),
            F.col("p.value_schema").alias("value_schema"))
        .agg(F.count("*").alias("n"))
    )
