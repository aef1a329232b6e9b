"""Driver-graded Structured-Streaming drain gates: real file-source micro-batch drains through the state store / watermark machinery, snapshot-gated against batch SQL oracles.

Split out of plans/queries.py (round 4) to keep per-file size reviewable;
registration still flows through the shared ``@query`` decorator, and
``__spark_entry__.GRADED_50`` owns the driver grading window, so module
boundaries are layout only — zero behavior change (pinned by
tests/test_graded_window.py and the full oracle-parity suite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.plans.queries import (
    LINES_CTE,
    PURCHASE_CTE,
    SCORING_CENTROIDS,
    SCORING_THRESHOLD,
    SQL_CANCELLED,
    SQL_FIELDS,
    SQL_INVALID,
    _drain_input_diet,
    _run_drain,
    purchase_rows,
    query,
    r6,
    raw_lines,
)
from bigdata_invoice_stream_analysis_spark.scratch import fresh_checkpoint
from bigdata_invoice_stream_analysis_spark.sources.tables import (
    load_table,
    normalize_timestamps,
    table_schema,
)
from bigdata_invoice_stream_analysis_spark.streaming.runtime import (
    await_all,
    rocksdb_provider,
    shuffle_partitions,
    state_partitions,
)

# ---------------------------------------------------------------------------
# Q: driver-graded STREAMING correctness — the windowed aggregation runs
# as a real Structured Streaming drain (file source → watermark →
# sliding window → update-mode foreachBatch) and the accumulated result
# is gated against the same batch SQL every other query uses. This
# closes the "streaming untested by driver" gap: the state store,
# watermark bookkeeping, and micro-batch planner are in the graded path.
# ---------------------------------------------------------------------------


@query(
    "streaming_error_windows",
    oracle="""
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(window_start + INTERVAL 8 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_errors
FROM (
  SELECT time_bucket(INTERVAL 1 MINUTE, ts) - k * INTERVAL 1 MINUTE AS window_start
  FROM events, generate_series(0, 7) AS t(k)
  WHERE event_type = 'error'
)
GROUP BY window_start
""",
)
def q_streaming_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W3 under the driver gate: 8-min/1-min sliding error counts
    computed BY THE STREAMING ENGINE — parquet file-source stream,
    1-minute event-time watermark, update-mode drain through
    foreachBatch, last emitted value per window wins (update mode
    re-emits a window whenever a batch changes it, so after an
    availableNow drain the accumulated map equals the batch answer —
    append mode would hold back every window newer than the final
    watermark). The oracle is plain batch SQL: the gate proves the
    state store + watermark machinery reproduce the declarative
    semantics byte-for-byte. Schema and timestamp handling are
    load_table's own (table_schema, normalize_timestamps)."""

    raw_schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(raw_schema)
        # file source wants a directory; the glob filter selects just
        # the events table out of the shared sf dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = normalize_timestamps(_drain_input_diet(stream))
    agg = (
        stream.filter(F.col("event_type") == "error")
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "8 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_errors"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "n_errors",
        )
    )
    acc: dict[str, tuple[str, int]] = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            acc[r["window_start"]] = (r["window_end"], r["n_errors"])

    ckpt = fresh_checkpoint("stream_gate_ckpt_")
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    rows = [(ws, we, int(n)) for ws, (we, n) in sorted(acc.items())]
    return spark.createDataFrame(
        rows, "window_start string, window_end string, n_errors long"
    )


@query(
    "streaming_user_totals",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY 1
""",
)
def q_streaming_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2/A4 under the driver gate: unbounded keyed running totals
    maintained by the streaming state store (update mode, no
    watermark — state lives forever, the reference's updateStateByKey
    semantic) and drained to a final snapshot that must hash-match the
    batch GROUP BY. Exercises keyed state persistence + incremental
    merge in the graded path; money stays in exact integer cents
    inside the state."""

    raw_schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    agg = stream.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    acc: dict[int, tuple[int, int]] = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            acc[r["user_id"]] = (r["n_events"], r["value_cents"])

    ckpt = fresh_checkpoint("stream_totals_ckpt_")
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    rows = [(int(u), int(n), int(c)) for u, (n, c) in sorted(acc.items())]
    return spark.createDataFrame(
        rows, "user_id long, n_events long, value_cents long"
    )


@query(
    "streaming_hll_users",
    oracle="""
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS sketch_ok
FROM events GROUP BY 1
""",
)
def q_streaming_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Datasketches HLL maintained INCREMENTALLY by the streaming
    state store: ``hll_sketch_agg`` as an update-mode streaming
    aggregation — a sketch is mergeable by construction, so the engine
    carries it across micro-batches in O(sketch) keyed state no matter
    how many events flow (the same property streaming_heavy_hitters
    proves for CMS, here for the distinct-count sketch family,
    completing the batch twin hll_partial_merge). The drained sketch's
    estimate must land within 5% of the batch-exact distinct
    (deterministic for fixed data); the exact count itself is
    hash-checked against the oracle."""
    raw_schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    agg = stream.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est: dict[str, int] = {}

    def sink(bdf, _bid):
        for r in bdf.select(
            "event_type", F.hll_sketch_estimate("sk").alias("est")
        ).collect():
            est[r["event_type"]] = int(r["est"])

    ckpt = fresh_checkpoint("stream_hll_ckpt_")
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
        .collect()
    )
    rows = [
        (
            r["event_type"],
            int(r["exact_users"]),
            abs(est.get(r["event_type"], 0) - r["exact_users"])
            <= 0.05 * r["exact_users"],
        )
        for r in sorted(exact, key=lambda x: x["event_type"])
    ]
    return spark.createDataFrame(
        rows, "event_type string, exact_users long, sketch_ok boolean"
    )


def prepared_purchase_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good purchase lines in the custom-state drain's input shape:
    validated, typed, timestamped, plus the ``line_no % 3`` bucket key
    that spreads an invoice's lines across micro-batches. Shared by the
    graded gate and scripts/scaling_probe.py (one builder — the probe
    times the exact shipped input, and the two can't drift).

    r10 staging trim (guide §1.2 "don't compute things you throw
    away"): the r9 shape built the FULL purchase projection
    (purchase_rows) and then filtered + re-parsed — the two gate
    filters are pure functions of single scan columns (``InvoiceNo
    NOT LIKE 'C%'`` ⟺ o_orderstatus IS NULL OR o_orderstatus <> 'F';
    ``CustomerID <> ''`` ⟺ l_orderkey % 97 <> 0), so they now push to
    the scans BEFORE the join, and ``ts`` derives directly from the join
    columns instead of the date_format→try_to_timestamp string
    roundtrip (order_ts is minute-granular with seconds == 0, so
    parse(format(x)) == x —
    verified exact under UTC and DST session timezones, and every
    gate's oracle re-derives the same instants from the PURCHASE_CTE
    strings). Output rows identical to the r9 shape (pinned by
    tests/test_drains_staging.py and every gate's oracle). Measured
    (sf0.1, 32 cores, noop sink, warm): full-volume staging compute
    1.84 → 1.28 s — the driver's correctness path pays this ×5 gates —
    and the dieted bench path ~0.6 → ~0.5 s (the diet filter now
    pushes to the lineitem scan too: InvoiceNo is a pure l_orderkey
    cast after the pre-filters)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 97 != 0
    )
    # NULL status is a non-cancelled InvoiceNo in purchase_projection
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isNull() | (F.col("o_orderstatus") != "F")
    )
    from bigdata_invoice_stream_analysis_spark.sources.tables import (
        ensure_min_parallelism,
    )

    j = ensure_min_parallelism(li.join(o, li.l_orderkey == o.o_orderkey), spark)
    order_ts = F.timestamp_add(
        "MINUTE", (F.col("o_orderkey") % 1440).cast("int"), F.col("o_orderdate")
    )
    return j.select(
        F.col("l_orderkey").cast("string").alias("InvoiceNo"),
        F.col("o_custkey").cast("string").alias("CustomerID"),
        F.col("l_quantity").cast("int").cast("double").alias("Quantity"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("UnitPrice"),
        order_ts.alias("ts"),
        (F.col("l_linenumber") % 3).alias("bkt"),
    )


def _stage_buckets(
    df: DataFrame, prefix: str, n_files: int, fmt: str
) -> str:
    """Stage ``df`` (carrying an int ``bkt`` column in [0, n_files))
    as one ``fmt`` file per bucket under a scratch dir with strictly
    increasing mtimes, so the FileStreamSource picks buckets 0→…→n−1
    deterministically. ONE write job: repartition on the bucket key
    puts each bucket in its own task → exactly one data file per bkt=
    dir (partitionBy strips the bkt column from the data files). ONE
    body shared by the parquet-staged state gates and the text-staged
    full-pipeline gate — a staging fix lands everywhere at once.
    Returns the staged directory."""
    import glob as globmod
    import os as osmod
    import shutil

    from bigdata_invoice_stream_analysis_spark.scratch import scratch_dir

    work = scratch_dir(f"{prefix}_in")
    stage = scratch_dir(f"{prefix}_stage")
    writer = df.repartition(n_files, "bkt").write.mode("overwrite").partitionBy("bkt")
    getattr(writer, fmt)(stage)
    for b in range(n_files):
        parts = globmod.glob(f"{stage}/bkt={b}/part-*.{fmt if fmt != 'text' else 'txt'}")
        if not parts:
            raise ValueError(
                f"bucket {b} staged no rows under {stage} — the input "
                f"is too small (or too heavily dieted) to fill all "
                f"{n_files} micro-batch buckets"
            )
        ext = "parquet" if fmt == "parquet" else "txt"
        dst = f"{work}/bucket{b}.{ext}"
        shutil.copy(parts[0], dst)
        osmod.utime(dst, (1_700_000_000 + b, 1_700_000_000 + b))
    return work


def _stage_bucketed_stream(
    spark: SparkSession, p: DataFrame, prefix: str, n_files: int = 3
) -> DataFrame:
    """Parquet-staged micro-batch stream over _stage_buckets (the
    keyed-state drain gates' input shape)."""
    work = _stage_buckets(p, prefix, n_files, "parquet")
    return (
        spark.readStream.schema(p.drop("bkt").schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(work)
    )


def _drive_until_drained(
    spark: SparkSession, writer, drained, what: str,
    partitions: int | None = None,
):
    """Start ``writer`` on an UNBOUNDED trigger and stop it from the
    driver once the sink signals ``drained``. ProcessingTime timeMode
    (required for TTL state and timers) keeps scheduling empty
    timer-evaluation micro-batches, so an availableNow drain NEVER
    terminates (measured: 167+ empty batches in 90 s) — driver-side
    stop is the only clean drain. Propagates streaming-query
    exceptions; times out after 300 s. State partitions are sized as
    _run_drain sizes them."""
    with shuffle_partitions(spark, partitions or state_partitions(spark)):
        q = writer.start()
        try:
            for _ in range(600):
                if drained.wait(0.5):
                    break
                if q.exception() is not None:
                    raise q.exception()
            else:
                raise TimeoutError(
                    f"{what} drain did not consume all staged files in 300s"
                )
        finally:
            q.stop()
            q.awaitTermination(60)


def run_custom_state_drain(
    spark: SparkSession,
    p: DataFrame,
    transform=None,
    prefix: str = "custom_state",
    stop_after_files: bool = False,
) -> dict[str, tuple[float, float, float, int]]:
    """Stage bucketed purchase lines into 3 single-file parquet buckets
    and drain a keyed-state ``transform`` (default:
    ``apply_invoice_state``; the state-v2 gate passes
    ``transform_invoice_state``) over them with ``maxFilesPerTrigger=1``
    (up to 3 genuine micro-batches carrying Arrow state). Returns the
    final per-invoice state snapshot (last-emission-wins). ONE body
    shared by the v1 gate, the v2 gate, the TTL gate, and the scaling
    probe's drain-cost tiers — a staging fix lands everywhere at once.

    Staged files get strictly increasing mtimes so the FileStreamSource
    picks buckets 0→1→2 deterministically (the v1/v2 gates' hashed
    columns are fold-order-independent so they never cared; the TTL
    gate's surviving-window oracle does).

    ``stop_after_files``: timeMode="ProcessingTime" (required for TTL
    state) keeps scheduling timer-evaluation micro-batches, so an
    availableNow drain NEVER terminates (measured: 167+ empty batches
    in 90 s). With this flag the drain instead runs an unbounded
    trigger and is stopped from the driver once every staged file has
    been consumed (batch id ≥ n_files−1 AND ≥ n_files batches emitted
    rows — timer batches emit nothing, data batches over the staged
    volume always emit)."""
    import threading

    from bigdata_invoice_stream_analysis_spark.deploy import (
        ensure_package_on_workers,
    )
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        apply_invoice_state,
    )

    # Anything a transform's closure reaches by module name, cloudpickle
    # serializes BY NAME — workers must be able to import the package
    # regardless of the driver's cwd (measured: the v1 gate run in
    # ISOLATION from a foreign cwd failed with ModuleNotFoundError; in
    # full sweeps an earlier media gate happened to ship the zip — an
    # order dependency this call removes).
    ensure_package_on_workers(spark)
    transform = transform or apply_invoice_state
    n_files = 3
    stream = _stage_bucketed_stream(spark, p, prefix, n_files)
    scored = transform(stream)
    acc: dict[str, tuple[float, float, float, int]] = {}
    drained = threading.Event()
    data_batches = [0]

    def sink(bdf, bid):
        # Arrow batch transfer + vectorized column access instead of a
        # py4j row collect: the snapshot is ~10k rows per micro-batch
        # at bench volume, and row-at-a-time Row access was ~1 s of
        # every gate's drain (guide §6 "Arrow for driver transfers").
        # Same values — floats cross as the identical IEEE doubles.
        pdf = bdf.toPandas()
        if len(pdf):
            data_batches[0] += 1
        for inv, mn, mx, ni, ln in zip(
            pdf["InvoiceNo"],
            pdf["MinUnitPrice"],
            pdf["MaxUnitPrice"],
            pdf["NumberItems"],
            pdf["Lines"],
        ):
            acc[inv] = (float(mn), float(mx), float(ni), int(ln))
        if bid >= n_files - 1 and data_batches[0] >= n_files:
            drained.set()

    ckpt = fresh_checkpoint(f"stream_{prefix}_ckpt_")
    writer = (
        scored.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    # Python keyed-state gates size to owned cores, not the JVM-gate
    # default: their bottleneck is per-group Python processing
    # (measured 6.9 s at 32 partitions vs 12.5 s at 8 on this drain).
    n_parts = state_partitions(spark, python_state=True)
    if stop_after_files:
        _drive_until_drained(spark, writer, drained, "TTL", partitions=n_parts)
    else:
        _run_drain(
            spark, writer.trigger(availableNow=True), partitions=n_parts
        )
    return acc


def _snapshot_df(spark: SparkSession, acc, columns, schema) -> DataFrame:
    """Key-sorted {key: value-tuple} snapshot → DataFrame through
    pandas, so createDataFrame takes the Arrow fast path instead of a
    py4j row upload (the drain gates' snapshots are 1k-12k rows at
    bench volume)."""
    import pandas as pd

    items = sorted(acc.items())
    data = {columns[0]: [k for k, _ in items]}
    for i, c in enumerate(columns[1:]):
        data[c] = [v[i] for _, v in items]
    return spark.createDataFrame(pd.DataFrame(data), schema)


def _invoice_state_snapshot_df(spark: SparkSession, acc) -> DataFrame:
    """Shared assembly for the three value-state gates: the drained
    {InvoiceNo: (mn, mx, number_items, lines)} snapshot as a DataFrame
    in the gates' hashed column shape. Built through pandas so
    createDataFrame takes the Arrow fast path instead of a py4j row
    upload (~12k rows per gate at bench volume)."""
    import pandas as pd

    items = sorted(acc.items())
    pdf = pd.DataFrame(
        {
            "InvoiceNo": [k for k, _ in items],
            "mn": [v[0] for _, v in items],
            "mx": [v[1] for _, v in items],
            "number_items": [int(v[2]) for _, v in items],
            "lines": [int(v[3]) for _, v in items],
        }
    )
    out = spark.createDataFrame(
        pdf,
        "InvoiceNo string, mn double, mx double, number_items long, lines int",
    )
    return out.select(
        "InvoiceNo",
        F.col("mn").alias("min_unit_price"),
        F.col("mx").alias("max_unit_price"),
        "number_items",
        "lines",
    )


@query(
    "streaming_custom_state",
    oracle=f"""
WITH {PURCHASE_CTE},
good AS (
  SELECT * FROM purchase
  WHERE InvoiceNo NOT LIKE 'C%' AND CustomerID <> ''
)
SELECT InvoiceNo,
       MIN(UnitPrice) AS min_unit_price,
       MAX(UnitPrice) AS max_unit_price,
       CAST(SUM(Quantity) AS BIGINT) AS number_items,
       CAST(COUNT(DISTINCT line_no % 3) AS INT) AS lines
FROM good GROUP BY 1
""",
)
def q_streaming_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 under the driver gate: the CUSTOM stateful operator
    (``applyInPandasWithState``, streaming/state.apply_invoice_state —
    the legacy-exact twin of the reference's updateInvoiceState,
    InvoicePipeline.scala:93-130) run as a REAL multi-micro-batch
    drain. The purchase lines are staged into 3 parquet files keyed by
    ``line_no % 3`` and streamed with ``maxFilesPerTrigger=1``, so an
    invoice's lines arrive across up to 3 micro-batches and the
    operator must CARRY ARROW-BATCHED STATE between them: running
    min/max price, running quantity total, and the batches-touched
    counter (the reference's ``lines``). The gated columns are exactly
    the fold-order-independent state fields — min/max/sum and the
    DISTINCT-bucket count — so the output is deterministic while the
    state machinery (state rows, cross-batch merge, update-mode
    emission, last-emission-wins snapshot) is fully exercised;
    the arrival-order artifacts (head-of-batch hour, incremental avg)
    are deliberately not hashed (their fidelity is unit-tested in
    test_streaming/test_state_recovery)."""
    p = prepared_purchase_lines(spark, sf_dir)
    # Bench diet applies at staging (the stream then reads less too);
    # driver/parity never set the env var, so they stage full volume.
    p = _drain_input_diet(p)
    acc = run_custom_state_drain(spark, p)
    # min/max are the IDENTICAL IEEE double on both engines (same
    # division, same parquet round-trip), so they ship unrounded —
    # the weighted_invoice_features convention; a divergent pre-round
    # (Spark HALF_UP vs DuckDB) flips .5-boundary rows.
    return _invoice_state_snapshot_df(spark, acc)


@query(
    "streaming_state_v2",
    oracle=f"""
WITH {PURCHASE_CTE},
good AS (
  SELECT * FROM purchase
  WHERE InvoiceNo NOT LIKE 'C%' AND CustomerID <> ''
)
SELECT InvoiceNo,
       MIN(UnitPrice) AS min_unit_price,
       MAX(UnitPrice) AS max_unit_price,
       CAST(SUM(Quantity) AS BIGINT) AS number_items,
       CAST(COUNT(DISTINCT line_no % 3) AS INT) AS lines
FROM good GROUP BY 1
""",
)
def q_streaming_state_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 on the MODERN state API, driver-graded: the same 3-micro-batch
    invoice-state drain as streaming_custom_state, but through
    ``transformWithStateInPandas`` (state v2 — typed named state slots,
    RocksDB-backed) instead of applyInPandasWithState. The wire
    protocol between the Python workers and the JVM state server is
    protobuf, served in this container by the in-repo miniproto shim
    (vendor/protobuf_shim — a from-scratch proto3 wire runtime; the
    JVM's Java-protobuf parser is the interop oracle). Same staged
    bucket input, same fold-order-independent gated columns, same
    batch-SQL oracle — so v1 and v2 state machinery are held to the
    IDENTICAL hash."""
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_state,
    )

    p = prepared_purchase_lines(spark, sf_dir)
    p = _drain_input_diet(p)
    with rocksdb_provider(spark):
        acc = run_custom_state_drain(
            spark, p, transform=transform_invoice_state, prefix="state_v2"
        )
    return _invoice_state_snapshot_df(spark, acc)


@query(
    "streaming_state_ttl",
    oracle=f"""
WITH {PURCHASE_CTE},
good AS (
  SELECT * FROM purchase
  WHERE InvoiceNo NOT LIKE 'C%' AND CustomerID <> ''
),
last_bkt AS (
  SELECT InvoiceNo, MAX(line_no % 3) AS lb FROM good GROUP BY 1
)
SELECT g.InvoiceNo,
       MIN(g.UnitPrice) AS min_unit_price,
       MAX(g.UnitPrice) AS max_unit_price,
       CAST(SUM(g.Quantity) AS BIGINT) AS number_items,
       CAST(1 AS INT) AS lines
FROM good g
JOIN last_bkt b ON g.InvoiceNo = b.InvoiceNo AND (g.line_no % 3) = b.lb
GROUP BY g.InvoiceNo
""",
)
def q_streaming_state_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-v2 TTL under the driver gate: the same 3-micro-batch
    invoice drain as streaming_state_v2, but with engine-managed
    value-state TTL (``evict_after_ms=1`` → ttlDurationMs, RocksDB TTL
    column family, timeMode="ProcessingTime" — the branch
    streaming/state.py:271-275 that r04 left unit-tested only). The
    1 ms TTL makes eviction DETERMINISTIC despite being wall-clock
    based: consecutive micro-batches are always ≫1 ms apart, so every
    key's state has expired by the next batch that touches it —
    keys planted in early buckets are evicted and each re-arrival
    re-seeds from the dummy state. The last-emission-wins snapshot is
    therefore the aggregate over ONLY each key's final micro-batch
    (the surviving window), with ``lines`` reseeded to 1 — computable
    in closed form because the staged bucket files carry strictly
    increasing mtimes (pickup order 0→1→2). A TTL that fails to evict
    folds earlier buckets into min/max/sum AND bumps ``lines`` — both
    flip the hash; ``lines`` alone also distinguishes this gate from a
    non-TTL run. ProcessingTime timeMode keeps scheduling empty
    timer-evaluation batches, so availableNow never terminates
    (measured 167+ empty batches in 90 s) — the drain instead stops
    from the driver once all 3 staged files are consumed
    (``stop_after_files``; the regression gate for the r04
    availableNow finding)."""
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_state,
    )

    p = prepared_purchase_lines(spark, sf_dir)
    p = _drain_input_diet(p)
    with rocksdb_provider(spark):
        acc = run_custom_state_drain(
            spark,
            p,
            transform=lambda s: transform_invoice_state(s, evict_after_ms=1),
            prefix="state_ttl",
            stop_after_files=True,
        )
    return _invoice_state_snapshot_df(spark, acc)


def run_timer_state_drain(
    spark: SparkSession, p: DataFrame, prefix: str = "state_timers"
) -> dict[str, tuple[int, int, int]]:
    """Drain transform_invoice_timers over the 3 staged buckets and
    return the last-emission-wins snapshot {InvoiceNo: (n_rows,
    qty_sum, n_fires)}. Every output row comes from handleExpiredTimer
    (input processing emits nothing), and because an already-expired
    timer fires within its own registration batch — after input rows —
    every data batch is non-empty at the sink, so the stop rule is the
    same as the TTL drain's: all staged files consumed."""
    import threading

    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_timers,
    )

    n_files = 3
    stream = _stage_bucketed_stream(spark, p, prefix, n_files)
    scored = transform_invoice_timers(stream)
    acc: dict[str, tuple[int, int, int]] = {}
    drained = threading.Event()
    data_batches = [0]

    def sink(bdf, bid):
        # Arrow transfer + columnar access (see run_custom_state_drain).
        pdf = bdf.toPandas()
        if len(pdf):
            data_batches[0] += 1
        for inv, nr, qs, nf in zip(
            pdf["InvoiceNo"], pdf["n_rows"], pdf["qty_sum"], pdf["n_fires"]
        ):
            acc[inv] = (int(nr), int(qs), int(nf))
        if bid >= n_files - 1 and data_batches[0] >= n_files:
            drained.set()

    ckpt = fresh_checkpoint(f"stream_{prefix}_ckpt_")
    writer = (
        scored.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
    )
    _drive_until_drained(
        spark, writer, drained, "timer",
        partitions=state_partitions(spark, python_state=True),
    )
    return acc


@query(
    "streaming_state_timers",
    oracle=f"""
WITH {PURCHASE_CTE},
good AS (
  SELECT * FROM purchase
  WHERE InvoiceNo NOT LIKE 'C%' AND CustomerID <> ''
)
SELECT InvoiceNo,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(Quantity AS BIGINT)) AS BIGINT) AS qty_sum,
       CAST(COUNT(DISTINCT line_no % 3) AS INT) AS n_fires
FROM good GROUP BY 1
""",
)
def q_streaming_state_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-v2 TIMERS under the driver gate — the last unexercised
    surface of the modern state API (registerTimer + handleExpiredTimer
    + engine timer auto-delete). Every emitted row comes from the TIMER
    callback, not input processing: each data micro-batch updates keyed
    running totals and arms a timer at currentProcessingTimeInMs − 1,
    which the engine fires within the SAME batch after all input rows
    (measured semantics; fired timers never re-fire). Deterministic
    gates: ``n_fires`` = the number of distinct staged buckets that
    contain the key (one registration → one fire per data batch), and
    the last fire's snapshot carries the COMPLETE totals (n_rows,
    integer qty_sum) — a timer firing before its batch's input, a
    re-fire, or a lost registration each flip the hash. ProcessingTime
    timeMode again requires the driver-side stop (run_timer_state_drain
    shares the TTL gate's machinery)."""
    p = prepared_purchase_lines(spark, sf_dir)
    p = _drain_input_diet(p)
    with rocksdb_provider(spark):
        acc = run_timer_state_drain(spark, p)
    return _snapshot_df(
        spark, acc,
        ["InvoiceNo", "n_rows", "qty_sum", "n_fires"],
        "InvoiceNo string, n_rows long, qty_sum long, n_fires int",
    )


@query(
    "streaming_state_list_map",
    oracle=f"""
WITH {PURCHASE_CTE},
good AS (
  SELECT * FROM purchase
  WHERE InvoiceNo NOT LIKE 'C%' AND CustomerID <> ''
),
per_bkt AS (
  SELECT InvoiceNo, line_no % 3 AS b,
         SUM(CAST(Quantity AS BIGINT)) AS q
  FROM good GROUP BY 1, 2
),
ranked AS (
  SELECT InvoiceNo, q,
         ROW_NUMBER() OVER (PARTITION BY InvoiceNo ORDER BY b) AS rk
  FROM per_bkt
),
lists AS (
  SELECT InvoiceNo, CAST(COUNT(*) AS INT) AS n_batches,
         CAST(SUM(rk * q) AS BIGINT) AS weighted_qty
  FROM ranked GROUP BY 1
),
bands AS (
  SELECT InvoiceNo, abs(CAST(Quantity AS BIGINT)) % 4 AS band,
         COUNT(*) AS cnt
  FROM good GROUP BY 1, 2
),
maps AS (
  SELECT InvoiceNo, CAST(COUNT(*) AS INT) AS n_bands,
         CAST(SUM(band * cnt) AS BIGINT) AS band_checksum
  FROM bands GROUP BY 1
)
SELECT l.InvoiceNo, l.n_batches, l.weighted_qty, m.n_bands, m.band_checksum
FROM lists l JOIN maps m USING (InvoiceNo)
""",
)
def q_streaming_state_list_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-v2 LIST + MAP state under the driver gate — with this,
    every typed-state kind of the modern API carries a graded row
    (value: streaming_state_v2; value+TTL: streaming_state_ttl;
    timers: streaming_state_timers; list+map: here). Per invoice the
    processor appends each micro-batch's integer quantity subtotal to
    a ListState and folds per-quantity-band row counts into a MapState
    (containsKey/getValue/updateValue). Gated columns: the list length
    and the 1-indexed position-weighted sum Σ i·qty_i — which is
    order-SENSITIVE, so the engine dropping, reordering, or re-reading
    a list entry flips the hash (list order = staged bucket order,
    deterministic via the runner's increasing mtimes) — plus the map
    size and the order-independent Σ band·count. Bands use
    abs(qty) % 4 so Python and SQL agree on negative quantities.
    timeMode="None" (no TTL/timers), so the plain availableNow drain
    applies."""
    from bigdata_invoice_stream_analysis_spark.streaming.state import (
        transform_invoice_list_map,
    )

    p = prepared_purchase_lines(spark, sf_dir)
    p = _drain_input_diet(p)
    with rocksdb_provider(spark):
        stream = _stage_bucketed_stream(spark, p, "state_list_map", 3)
        scored = transform_invoice_list_map(stream)
        acc: dict[str, tuple[int, int, int, int]] = {}

        def sink(bdf, _bid):
            # Arrow transfer + columnar access (see
            # run_custom_state_drain).
            pdf = bdf.toPandas()
            for inv, nb, wq, nband, bc in zip(
                pdf["InvoiceNo"],
                pdf["n_batches"],
                pdf["weighted_qty"],
                pdf["n_bands"],
                pdf["band_checksum"],
            ):
                acc[inv] = (int(nb), int(wq), int(nband), int(bc))

        ckpt = fresh_checkpoint("stream_state_list_map_ckpt_")
        writer = (
            scored.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        _run_drain(
            spark, writer,
            partitions=state_partitions(spark, python_state=True),
        )
    return _snapshot_df(
        spark, acc,
        ["InvoiceNo", "n_batches", "weighted_qty", "n_bands", "band_checksum"],
        "InvoiceNo string, n_batches int, weighted_qty long, "
        "n_bands int, band_checksum long",
    )


@query(
    "streaming_dedup_fingerprints",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dropped
FROM (
  SELECT text FROM documents
  UNION ALL
  SELECT text FROM documents WHERE doc_id % 13 = 0
)
""",
)
def q_streaming_dedup_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (dedup) under the streaming gate: documents plus verbatim
    copies of every 13th doc flow through dropDuplicates on the
    content digest — the state store holds one entry per fingerprint
    and suppresses cross-batch redeliveries. The drain counts
    survivors; together with the input count the gate pins exactly how
    many duplicates the STATE deduplicated (which doc survives is
    arrival-order-dependent, so the gate asserts the deterministic
    aggregate, not survivor identity — same contract a replayed Kafka
    topic gives you)."""

    raw_schema = table_schema(spark, sf_dir, "documents")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    dup = stream.filter(F.col("doc_id") % 13 == 0)
    all_docs = stream.unionByName(dup).select(
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("fp")
    )
    deduped = all_docs.dropDuplicates(["fp"])
    acc: dict[str, bool] = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            acc[r["fp"]] = True

    ckpt = fresh_checkpoint("stream_dedup_ckpt_")
    writer = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    total = load_table(spark, sf_dir, "documents")
    n_docs = total.count() + total.filter(F.col("doc_id") % 13 == 0).count()
    n_unique = len(acc)
    return spark.createDataFrame(
        [(n_docs, n_unique, n_docs - n_unique)],
        "n_docs long, n_unique long, n_dropped long",
    )


@query(
    "streaming_error_purchase_join",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'error') e
JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
  ON p.user_id = e.user_id
 AND p.ts > e.ts
 AND p.ts <= e.ts + INTERVAL 10 MINUTE
""",
)
def q_streaming_error_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join under the driver gate: purchases
    within 10 minutes after an error by the same user, both sides real
    streams with event-time watermarks, the time-range condition
    bounding join state (each side retains only rows younger than
    watermark + interval — the property that keeps state finite on an
    unbounded stream). Inner-join matches emit as soon as both sides
    arrive; the drain accumulates (error, purchase) pair identities so
    a replayed batch cannot double-count. The oracle is the plain
    batch interval join — the gate proves the streaming join planner
    and state manager reproduce relational semantics exactly."""

    raw_schema = table_schema(spark, sf_dir, "events")

    def side(evt: str):
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        s = normalize_timestamps(_drain_input_diet(s))
        return (
            s.filter(F.col("event_type") == evt)
            .select("user_id", "event_id", "ts")
            .withWatermark("ts", "1 minute")
        )

    e = side("error").withColumnsRenamed(
        {"event_id": "e_id", "ts": "e_ts", "user_id": "e_user"}
    )
    p = side("purchase").withColumnsRenamed(
        {"event_id": "p_id", "ts": "p_ts", "user_id": "p_user"}
    )
    joined = e.join(
        p,
        (F.col("p_user") == F.col("e_user"))
        & (F.col("p_ts") > F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("e_user", "e_id", "p_id")
    pairs: set[tuple[int, int]] = set()
    users: set[int] = set()

    def sink(bdf, _bid):
        for r in bdf.collect():
            pairs.add((r["e_id"], r["p_id"]))
            users.add(r["e_user"])

    ckpt = fresh_checkpoint("stream_join_ckpt_")
    writer = (
        joined.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    return spark.createDataFrame(
        [(len(pairs), len(users))], "n_pairs long, n_users long"
    )
@query(
    "streaming_sessions",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 > INTERVAL 240 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
grp AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sess AS (
  SELECT user_id,
         MIN(ts) AS s_start,
         MAX(ts) + INTERVAL 240 MINUTE AS s_end,
         COUNT(*) AS n_events
  FROM grp GROUP BY user_id, sid
)
SELECT user_id,
       strftime(s_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(s_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       CAST(n_events AS BIGINT) AS n_events
FROM sess
WHERE s_end <= (SELECT MAX(ts) - INTERVAL 1 MINUTE FROM events)
""",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming sessionization under the driver gate:
    `session_window(ts, 4h)` per user on the file-source event stream,
    1-minute watermark, APPEND mode — the engine merges events into
    gap-bounded sessions in the state store and emits each session
    exactly once, when the watermark passes its end (last event +
    gap). The availableNow drain's final watermark is data-derived
    (max ts − 1 min), so the emitted set is deterministic: exactly the
    sessions with end <= final watermark — which is what the batch
    oracle's gap-sessionization (lag/running-sum, the same shape as
    `user_sessions`) computes, horizon filter included. Sessions still
    open at end-of-stream are correctly withheld by append semantics;
    the oracle mirrors that. State is O(open sessions per user), the
    cluster-scale bound."""

    raw_schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = normalize_timestamps(_drain_input_diet(stream))
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy("user_id", F.session_window("ts", "240 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
    )
    rows: list[tuple[int, str, str, int]] = []

    def sink(bdf, _bid):
        for r in bdf.collect():
            rows.append(
                (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
            )

    ckpt = fresh_checkpoint("stream_sessions_ckpt_")
    writer = (
        agg.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    return spark.createDataFrame(
        sorted(rows),
        "user_id long, session_start string, session_end string, n_events long",
    )


@query(
    "streaming_value_percentiles",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(cents, 0.5), 6) AS p50_cents,
       ROUND(quantile_cont(cents, 0.95), 6) AS p95_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       TRUE AS sketch_ok
FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events)
GROUP BY 1
""",
)
def q_streaming_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain gate #9 — SKETCH-TYPED keyed state: ``approx_percentile``
    (Greenwald-Khanna, a TypedImperativeAggregate) maintained
    INCREMENTALLY by the streaming state store in update mode. The
    engine carries the O(1/eps) sketch buffer across micro-batches per
    key — the same mergeability contract streaming_hll_users proves for
    HLL and streaming_heavy_hitters for CMS, here for the quantile
    family (completing the batch twin approx_value_percentiles). Gated
    the exact-band way: the drained sketch's p50/p95 must land inside
    the batch-exact [q−0.005, q+0.005] percentile band (accuracy=1000
    bounds rank error at 0.001·n — 5× headroom, deterministic for fixed
    data), while the hashed percentile columns are the batch-exact
    interpolated values (Spark ``percentile`` ≡ DuckDB ``quantile_cont``
    on integer cents)."""
    raw_schema = table_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    stream = _drain_input_diet(stream)
    agg = stream.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).groupBy("event_type").agg(
        F.expr("approx_percentile(cents, array(0.5D, 0.95D), 1000)").alias("apcts")
    )
    est: dict[str, tuple[float, float]] = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            est[r["event_type"]] = (float(r["apcts"][0]), float(r["apcts"][1]))

    ckpt = fresh_checkpoint("stream_pct_ckpt_")
    writer = (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    _run_drain(spark, writer)
    exact = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type")
        .agg(
            F.expr(
                "percentile(cents, array(0.495D, 0.5D, 0.505D, 0.945D, 0.95D, 0.955D))"
            ).alias("pcts"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    )
    rows = []
    for r in sorted(exact, key=lambda x: x["event_type"]):
        lo50, p50, hi50, lo95, p95, hi95 = r["pcts"]
        a50, a95 = est.get(r["event_type"], (float("nan"), float("nan")))
        ok = (
            lo50 - 0.5 <= a50 <= hi50 + 0.5 and lo95 - 0.5 <= a95 <= hi95 + 0.5
        )
        rows.append((r["event_type"], p50, p95, r["n_events"], ok))
    out = spark.createDataFrame(
        rows,
        "event_type string, p50_cents double, p95_cents double, "
        "n_events long, sketch_ok boolean",
    )
    # r6 (Spark HALF_UP) mirrors the oracle's ROUND — the proven-exact
    # pairing from approx_value_percentiles; Python round() would
    # banker's-round .5 boundaries differently.
    return out.select(
        "event_type",
        r6(F.col("p50_cents")).alias("p50_cents"),
        r6(F.col("p95_cents")).alias("p95_cents"),
        "n_events",
        "sketch_ok",
    )


# ---------------------------------------------------------------------------
# The COMPOSED end-to-end topology gate: streaming/app.py::run_pipeline —
# four concurrent queries (invalid / cancellation windows / two anomaly
# models) over ONE shared staged line source with per-sink checkpoints,
# exactly the deployment the reference's main ships
# (InvoicePipeline.scala:31-154).
# ---------------------------------------------------------------------------

# Second literal model for the bisecting sink (the kmeans sink reuses the
# shared SCORING_CENTROIDS/THRESHOLD pair): values are plan literals in
# BOTH engines, chosen — like SCORING_CENTROIDS — so no invoice's distance
# sits near the threshold (the FP-margin argument of centroid_anomalies).
BISECT_CENTROIDS = [
    [800.0, 300.0, 2500.0, 10.0, 40.0],
    [9000.0, 3500.0, 25000.0, 14.0, 160.0],
]
BISECT_THRESHOLD = 2.5e9


def _pipe_sqdist(center: list[float]) -> str:
    """_sql_sqdist over the pipeline-feature aliases
    (avgp/minp/maxp/t/items) — same shared body as every other
    centroid-scoring oracle."""
    from bigdata_invoice_stream_analysis_spark.plans.queries import _sql_sqdist

    return _sql_sqdist(center, ["avgp", "minp", "maxp", "t", "items"])


def _pipe_anomaly_select(topic: str, centers: list[list[float]], threshold: float) -> str:
    d0, d1 = _pipe_sqdist(centers[0]), _pipe_sqdist(centers[1])
    return f"""
SELECT '{topic}' AS sink, inv AS k1,
       CASE WHEN {d0} <= {d1} THEN '0' ELSE '1' END AS k2,
       CAST(ROUND(LEAST({d0}, {d1}), -3) AS BIGINT) AS n
FROM feats f WHERE LEAST({d0}, {d1}) > {threshold!r}"""


def _stage_bucketed_text(
    spark: SparkSession, lines: DataFrame, prefix: str, n_files: int = 3
) -> str:
    """Text-staged twin of _stage_bucketed_stream for sources that
    consume the raw-line envelope (file_lines_source); same shared
    _stage_buckets body. Returns the staged directory."""
    return _stage_buckets(
        lines.select("bkt", "value"), prefix, n_files, "text"
    )


# Shared by streaming_full_pipeline (4 independent queries) and
# streaming_full_pipeline_router (3 queries, anomaly fan-out router):
# both topologies must produce row-identical sink contents.
FULL_PIPELINE_ORACLE = f"""
WITH {PURCHASE_CTE}, {LINES_CTE},
wm AS (
  SELECT max(strptime({SQL_FIELDS}[5], '%m/%d/%Y %H:%M')) - INTERVAL 10 MINUTE AS w
  FROM lines
),
cx AS (
  SELECT {SQL_FIELDS}[1] AS inv,
         strptime({SQL_FIELDS}[5], '%m/%d/%Y %H:%M') AS ts
  FROM lines WHERE NOT {SQL_INVALID} AND {SQL_CANCELLED}
),
cw AS (
  SELECT ws, CAST(COUNT(DISTINCT inv) AS BIGINT) AS n_cancelled
  FROM (SELECT time_bucket(INTERVAL 1 MINUTE, ts) - k * INTERVAL 1 MINUTE AS ws, inv
        FROM cx, generate_series(0, 7) AS t(k))
  GROUP BY ws
),
good AS (
  SELECT {SQL_FIELDS}[1] AS inv,
         CAST({SQL_FIELDS}[4] AS INT) AS qty,
         CAST({SQL_FIELDS}[6] AS DOUBLE) AS price,
         strptime({SQL_FIELDS}[5], '%m/%d/%Y %H:%M') AS ts
  FROM lines WHERE NOT {SQL_INVALID} AND NOT {SQL_CANCELLED}
),
feats AS (
  SELECT inv,
         SUM(price * qty) / SUM(qty) AS avgp,
         MIN(price) AS minp,
         MAX(price) AS maxp,
         AVG(EXTRACT(hour FROM ts) + EXTRACT(minute FROM ts) / 60.0) AS t,
         CAST(SUM(qty) AS DOUBLE) AS items
  FROM good GROUP BY inv
)
SELECT 'facturas_erroneas' AS sink, value AS k1, '' AS k2,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lines WHERE {SQL_INVALID} GROUP BY value
UNION ALL
SELECT 'cancelaciones' AS sink, strftime(ws, '%Y-%m-%d %H:%M:%S') AS k1,
       strftime(ws + INTERVAL 8 MINUTE, '%Y-%m-%d %H:%M:%S') AS k2, n_cancelled AS n
FROM cw, wm WHERE ws + INTERVAL 8 MINUTE <= wm.w
UNION ALL{_pipe_anomaly_select("anomalias_kmeans", SCORING_CENTROIDS, SCORING_THRESHOLD)}
UNION ALL{_pipe_anomaly_select("anomalias_bisect_kmeans", BISECT_CENTROIDS, BISECT_THRESHOLD)}
"""


@query("streaming_full_pipeline", oracle=FULL_PIPELINE_ORACLE)
def q_streaming_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE deployment under one gate
    (InvoicePipeline.scala:31-154): streaming/app.py::run_pipeline wires
    FOUR CONCURRENT streaming queries — invalid-line sink, event-time
    sliding-window cancellation counts, and two centroid-model anomaly
    sinks — onto ONE shared staged line source, each query with its own
    checkpoint, draining to the parquet golden-run sinks (the broker-free
    production mode; update-mode sinks ride the idempotent batch_id
    overwrite writer). The gate flattens all four sink outputs into one
    (sink, k1, k2, n) relation and the oracle recomputes each from the
    same line CTE:

      * facturas_erroneas — distinct invalid lines with multiplicities
        (append mode, stateless filter);
      * cancelaciones — 8min/1min windows of distinct cancelled
        invoices; append-mode emission releases exactly the windows
        whose end is ≤ the final watermark (max event time − 10 min,
        watermarked BEFORE the cancel filter — the one-operator
        windowed distinct count flushes through availableNow's
        requires-another-batch loop);
      * anomalias_kmeans / anomalias_bisect_kmeans — per-invoice
        weighted-mean features scored against two plan-literal centroid
        models, flagged where sqdist > threshold. Lines are bucketed by
        line_order (the invoice key), so every invoice's lines land in
        ONE micro-batch and update mode emits each flagged invoice
        exactly once with complete features — the deterministic
        composition contract.

    Scale notes: four queries share the source scan per micro-batch
    only in foreachBatch-router deployments (sinks.py docstring); this
    gate deliberately runs the reference's 4-independent-queries
    topology, where each query tracks its own offsets — the shape that
    lets one slow sink lag without backpressuring the rest. State: the
    window aggs hold O(open windows), the feature agg O(open invoices),
    both watermark/update bounded; scoring is plan-literal codegen."""
    from bigdata_invoice_stream_analysis_spark.streaming.app import run_pipeline

    return _run_full_pipeline_gate(spark, sf_dir, run_pipeline, "full_pipe")


@query("streaming_full_pipeline_router", oracle=FULL_PIPELINE_ORACLE)
def q_streaming_full_pipeline_router(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SHARED-SCAN twin of streaming_full_pipeline:
    streaming/app.py::run_pipeline_router collapses the two anomaly
    sinks into ONE streaming query — the per-invoice feature
    aggregation (the expensive stateful stage) runs once per
    micro-batch instead of once per model, and a foreachBatch router
    scores the batch against both centroid models and fans out through
    the idempotent batch_id-overwrite writer (all sinks replay
    together, so the multi-sink write is batch-transactional). 3
    source scans + 1 feature-agg state store per micro-batch vs the
    4-query topology's 4 + 2 — the arithmetic that dominates at 100 TB
    (PERF.md compares the two plans). Same staged event-time-ordered
    buckets, same oracle, row-identical output: the gate IS the proof
    of output equivalence between the two deployment shapes."""
    from bigdata_invoice_stream_analysis_spark.streaming.app import (
        run_pipeline_router,
    )

    return _run_full_pipeline_gate(
        spark, sf_dir, run_pipeline_router, "full_pipe_router"
    )


def _run_full_pipeline_gate(
    spark: SparkSession, sf_dir: str, runner, prefix: str
) -> DataFrame:
    """Shared drain/read/flatten body for the two full-pipeline
    topology gates: stage event-time-ordered line buckets, run the
    topology under ``runner`` (run_pipeline or run_pipeline_router,
    which size their own state partitions) with parquet sinks + fresh
    checkpoints, then flatten all four sink
    outputs into one (sink, k1, k2, n) relation for the shared
    oracle."""
    from bigdata_invoice_stream_analysis_spark.scratch import fresh_checkpoint
    from bigdata_invoice_stream_analysis_spark.streaming.app import (
        ModelSpec,
        PipelineConfig,
    )
    from bigdata_invoice_stream_analysis_spark.streaming.sources import (
        file_lines_source,
    )

    from bigdata_invoice_stream_analysis_spark.functions.time_fns import (
        parse_invoice_ts,
    )

    ln = _drain_input_diet(raw_lines(spark, sf_dir))
    # Buckets are EVENT-TIME tertiles (fixed literal cutoffs over the
    # 1995-2001 testdata range), not invoice-hash: micro-batches must
    # arrive in time order or the watermark set by batch 0 (max ts −
    # 10 min) drops nearly all of batches 1-2 as late data. Invoices
    # stay whole regardless — every line of an invoice carries the same
    # InvoiceDate, so a time split never straddles one (the update-mode
    # exactly-once contract above). At production scale this IS the
    # natural arrival order of a replayed log; the cutoffs only
    # simulate it from batch files.
    ts = parse_invoice_ts(F.split(F.col("value"), ",").getItem(4))
    bkt = (
        F.when(ts < F.lit("1997-03-01").cast("timestamp"), F.lit(0))
        .when(ts < F.lit("1999-05-01").cast("timestamp"), F.lit(1))
        .otherwise(F.lit(2))
    )
    staged = _stage_bucketed_text(
        spark,
        ln.select(bkt.cast("int").alias("bkt"), "value"),
        prefix,
    )
    lines = file_lines_source(spark, staged, max_files_per_trigger=1)
    out_dir = fresh_checkpoint(f"{prefix}_out_")
    cfg = PipelineConfig(
        sink_mode="parquet",
        out_dir=out_dir,
        available_now=True,
        models={
            "kmeans": ModelSpec(SCORING_CENTROIDS, SCORING_THRESHOLD),
            "bisecting": ModelSpec(BISECT_CENTROIDS, BISECT_THRESHOLD),
        },
    )
    # One failing sink must not leak the three concurrent survivors as
    # active streams in the session: await_all stops them on the way out.
    await_all(runner(lines, cfg), 300)

    def _read(name: str, fallback_schema: str) -> DataFrame:
        import glob as globmod

        path = f"{out_dir}/{name}"
        if globmod.glob(f"{path}/**/*.parquet", recursive=True):
            return spark.read.parquet(path)
        return spark.createDataFrame([], fallback_schema)

    fmt = "yyyy-MM-dd HH:mm:ss"
    inv = _read("facturas_erroneas", "key string, value string")
    can = _read(
        "cancelaciones",
        "window_start timestamp, window_end timestamp, n_cancelled long",
    )
    parts = [
        inv.groupBy("value").agg(F.count(F.lit(1)).alias("n")).select(
            F.lit("facturas_erroneas").alias("sink"),
            F.col("value").alias("k1"),
            F.lit("").alias("k2"),
            F.col("n"),
        ),
        can.select(
            F.lit("cancelaciones").alias("sink"),
            F.date_format("window_start", fmt).alias("k1"),
            F.date_format("window_end", fmt).alias("k2"),
            F.col("n_cancelled").cast("long").alias("n"),
        ),
    ]
    for topic in ("anomalias_kmeans", "anomalias_bisect_kmeans"):
        flagged = _read(
            topic, "InvoiceNo string, prediction int, dist double"
        )
        parts.append(
            flagged.select(
                F.lit(topic).alias("sink"),
                F.col("InvoiceNo").alias("k1"),
                F.col("prediction").cast("string").alias("k2"),
                F.round(F.col("dist"), -3).cast("long").alias("n"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out
