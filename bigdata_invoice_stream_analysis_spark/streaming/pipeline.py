"""Declarative streaming branch builders (SURVEY.md §2.5, §3.2).

Every function takes the normalized line stream (key, value, ingest_ts —
see sources.py) and returns an unbounded DataFrame; callers attach sinks
(sinks.py). All expressions are native Columns, including the
legacy-exact per-invoice state (exact_invoice_state); the Python keyed
state operators in state.py are its twins, not on the app's path.

Window-time modes (SURVEY.md §2.5 late-data note): the reference counts
by *arrival* time (processing-time DStream windows). The rebuild
defaults to *event* time parsed from InvoiceDate with a watermark — the
correct-at-scale semantics under replay/out-of-order arrival — and
keeps ``time_mode="processing"`` for reference-faithful behavior.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_invoice_stream_analysis_spark.functions.time_fns import (
    fractional_hour,
    parse_invoice_ts,
)
from bigdata_invoice_stream_analysis_spark.operators import validate

DEFAULT_WINDOW = "8 minutes"  # InvoicePipeline.scala:77 Minutes(8)
DEFAULT_SLIDE = "1 minute"  # InvoicePipeline.scala:77 Minutes(1)
DEFAULT_WATERMARK = "10 minutes"
# The reference's max-price seed, Double.MinPositiveValue
# (InvoicePipeline.scala:96): a running max never reads below it.
MAX_PRICE_SEED = 4.9e-324


def event_time(line: Column) -> Column:
    """Event time = parsed InvoiceDate (field 4) of the line. F.get, not
    [], so a short (invalid) line yields NULL instead of an ANSI
    out-of-bounds error."""
    return parse_invoice_ts(F.get(validate.split_line(line), 4))


def with_time(lines: DataFrame, time_mode: str = "event") -> DataFrame:
    """Attach the window-time column ``ts``."""
    if time_mode == "event":
        ts = event_time(F.col("value"))
    elif time_mode == "processing":
        ts = F.col("ingest_ts")
    else:
        raise ValueError(f"unknown time_mode {time_mode!r}")
    return lines.withColumn("ts", ts)


def invalid_lines(lines: DataFrame) -> DataFrame:
    """Branch 1 (P1 → W4): lines routed to the invalid sink
    (InvoicePipeline.scala:57-62). Stateless filter — no shuffle."""
    return lines.filter(validate.is_invalid_line(F.col("value"))).select(
        "key", "value"
    )


def cancellation_counts(
    lines: DataFrame,
    window: str = DEFAULT_WINDOW,
    slide: str = DEFAULT_SLIDE,
    watermark: str = DEFAULT_WATERMARK,
    time_mode: str = "event",
) -> DataFrame:
    """Branch 2 (P2 + A2 + A3 + W1): count of distinct cancelled
    invoices per sliding window (reduceByKeyAndWindow with inverse
    reduce, InvoicePipeline.scala:65-80).

    ONE stateful aggregation per window: the size of the window's set
    of cancelled InvoiceNo values, an exact distinct count with one
    shuffle and one state store per micro-batch. State is one row per
    open window holding its distinct cancelled invoices (the same
    entries a chained dedup on (window, InvoiceNo) would keep as rows),
    and a micro-batch rewrites the sets of the windows it touches. All
    of it is purged as the watermark closes windows, unlike the
    reference whose manual inverse-reduce kept every key resident.
    Output: window_start, window_end, n_cancelled bigint (append mode).
    """
    # Watermark BEFORE the cancelled filter: the event-time high-water
    # mark must advance with the whole stream, not only with cancelled
    # lines — otherwise a lull in cancellations stalls window emission
    # forever even as good purchases keep flowing. Catalyst pushes any
    # conjunct that doesn't reference `ts` BELOW the EventTimeWatermark
    # node (PushPredicateThroughNonJoin), which would silently restrict
    # the watermark to cancelled rows — so the routing predicate is
    # wrapped in a single CASE WHEN over `ts`, which cannot be split or
    # pushed.
    keep = F.when(
        F.col("ts").isNotNull(),
        ~validate.is_invalid_line(F.col("value"))
        & validate.is_cancelled_line(F.col("value")),
    ).otherwise(F.lit(False))
    cancelled = (
        with_time(lines, time_mode)
        .withWatermark("ts", watermark)
        .filter(keep)
        .select(F.col("key").alias("InvoiceNo"), "ts")
    )
    counts = cancelled.groupBy(F.window("ts", window, slide).alias("window")).agg(
        F.size(F.collect_set("InvoiceNo")).cast("long").alias("n_cancelled")
    )
    return counts.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        "n_cancelled",
    )


def good_purchases(lines: DataFrame, time_mode: str = "event") -> DataFrame:
    """Branch 3 input (P3 + P4): typed purchase rows of good lines
    (InvoicePipeline.scala:133-134 + 85-90), with the ``ts`` column."""
    good = with_time(lines, time_mode).filter(
        validate.is_good_line(F.col("value"))
    )
    fields = validate.split_line(F.col("value"))
    return good.select(
        F.col("ts"),
        fields[0].alias("InvoiceNo"),
        fields[1].alias("StockCode"),
        fields[2].alias("Description"),
        fields[3].try_cast("int").alias("Quantity"),
        fields[4].alias("InvoiceDate"),
        fields[5].try_cast("double").alias("UnitPrice"),
        fields[6].alias("CustomerID"),
        fields[7].alias("Country"),
    )


def _price_aggs() -> tuple[Column, Column, Column, Column]:
    """The per-invoice aggregates invoice_updates and exact_invoice_state
    share: the mean unit price, min and max unit price, and the item
    count Σq as a double (unaliased, in that order).

    The mean is the reference's streaming recurrence
    (InvoicePipeline.scala:110: quantity-weighted running mean) in its
    closed form Σ(p·q)/Σq. The division is try_divide: an invoice whose
    quantities sum to 0 (a zero-quantity line, or 5 and -5) gets a
    NULL mean — NULL distance, never flagged — instead of failing the
    whole micro-batch with ANSI DIVIDE_BY_ZERO."""
    qty = F.col("Quantity")
    avg = F.try_divide(F.sum(F.col("UnitPrice") * qty), F.sum(qty))
    return avg, F.min("UnitPrice"), F.max("UnitPrice"), F.sum(qty).cast("double")


def invoice_updates(purchases: DataFrame) -> DataFrame:
    """A4 as a plain streaming aggregation (update output mode): the
    running per-invoice feature row, recomputed incrementally by the
    state store — only keys touched by a micro-batch are emitted.

    All aggregates are algebraic → map-side partial aggregation; shuffle
    volume per batch is O(invoices in batch), and the state store holds
    one small row per invoice (the reference cogrouped the ENTIRE state
    against every 20 s batch, InvoicePipeline.scala:136 — O(all keys)
    per batch).

    The mean is quantity-weighted (see _price_aggs), as serving runs
    it; batch training's row mean is featurize's ``weighted_avg=False``
    (the train/serve skew of SURVEY.md §3.1).

    Time semantics: mean fractional hour over all of the invoice's
    lines (the reference stored the hour of the *latest batch's head
    purchase* — an arrival-order artifact; exact_invoice_state keeps
    it).
    """
    avg, mn, mx, items = _price_aggs()
    return purchases.groupBy("InvoiceNo").agg(
        avg.alias("AvgUnitPrice"),
        mn.alias("MinUnitPrice"),
        mx.alias("MaxUnitPrice"),
        F.avg(fractional_hour(F.col("ts"))).alias("Time"),
        items.alias("NumberItems"),
        F.count(F.lit(1)).alias("Lines"),
        F.last("CustomerID").alias("CustomerID"),
    )


def exact_invoice_state(purchases: DataFrame) -> DataFrame:
    """W2 — the reference's per-invoice state (``updateInvoiceState``,
    InvoicePipeline.scala:93-130) as ONE update-mode streaming
    aggregation: the same INVOICE_STATE_SCHEMA rows as
    state.apply_invoice_state, computed by the JVM state store with no
    Python worker and no per-key Python cost.

      * AvgUnitPrice/MinUnitPrice/NumberItems: _price_aggs (the closed
        form of the reference's line-by-line fold);
      * MaxUnitPrice: floored at the reference's 4.9e-324 seed
        (Double.MinPositiveValue, InvoicePipeline.scala:96);
      * Lines: the number of micro-batches that touched the invoice —
        the distinct batch timestamps. ``_bts`` is projected before the
        groupBy because Spark rejects current_timestamp() inside an
        aggregate; micro-batch execution fixes it to the batch's logged
        timestamp, so a replayed batch adds no new value;
      * Time/CustomerID: the head of the latest batch, defined without
        arrival order (a text source has no arrival index): the
        batch's line with the earliest event time, NULL ``ts`` ranked
        last, ties going to the greatest CustomerID; Time is 0.0 when
        every line of that batch has a NULL ``ts``. The reference took
        the batch's first-arriving line, which is the same line when
        a batch's lines for a key arrive in event-time order;
      * LastUpdated: the latest batch timestamp in ms (the reference
        and the Python twin stamp wall-clock time in the worker).

    The state row holds one collect_set of batch timestamps per
    invoice, so its state grows with the batches an invoice spans."""
    bts = F.col("_bts")
    avg, mn, mx, items = _price_aggs()
    head = F.max(
        F.struct(
            bts.alias("bts"),
            (-F.unix_micros(F.col("ts"))).alias("neg_us"),
            F.col("CustomerID").alias("customer"),
            F.coalesce(fractional_hour(F.col("ts")), F.lit(0.0)).alias("hour"),
        )
    )
    return (
        purchases.withColumn("_bts", F.current_timestamp())
        .groupBy("InvoiceNo")
        .agg(
            avg.alias("AvgUnitPrice"),
            mn.alias("MinUnitPrice"),
            F.greatest(mx, F.lit(MAX_PRICE_SEED)).alias("MaxUnitPrice"),
            head.alias("_head"),
            items.alias("NumberItems"),
            F.size(F.collect_set(bts)).alias("Lines"),
        )
        .select(
            "InvoiceNo",
            "AvgUnitPrice",
            "MinUnitPrice",
            "MaxUnitPrice",
            F.col("_head.hour").alias("Time"),
            "NumberItems",
            F.unix_millis(F.col("_head.bts")).alias("LastUpdated"),
            "Lines",
            F.col("_head.customer").alias("CustomerID"),
        )
    )
