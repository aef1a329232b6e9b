"""The legacy-exact keyed invoice state in Python: applyInPandasWithState
(v1) and transformWithStateInPandas (state v2) twins (W2/A4).

Reproduces ``updateInvoiceState`` (InvoicePipeline.scala:93-130)
semantics exactly, per micro-batch and per key:

  * quantity-weighted mean Σ(price·qty) / Σqty over every line seen so
    far; the state keeps both sums, so a running quantity of 0 gives NaN
    (the reference's double division, emitted as NULL) for that batch
    only, and the next batch's lines bring the mean back;
  * running min/max of UnitPrice (seeded min=+inf, max=4.9e-324 — the
    reference's Double.MaxValue / Double.MinPositiveValue dummy,
    InvoicePipeline.scala:96);
  * Time = fractional hour of the *head purchase of this batch*
    (InvoicePipeline.scala:104-105 — an arrival-order artifact kept for
    fidelity);
  * Lines = number of micro-batches that touched the invoice (the
    reference's ``previous.lines + 1``, InvoicePipeline.scala:126);
  * emits only keys that received data this batch (updateStateByKey
    returns None for quiet keys — which also DROPS their state,
    InvoicePipeline.scala:99; here an optional processing-time timeout
    reproduces that eviction, default keeps state — strictly more
    correct for invoices spanning quiet batches).

The deployed app does not run these: pipeline.exact_invoice_state
computes the same rows as one JVM streaming aggregation (every field
but the wall-clock LastUpdated, with the batch head defined by event
time instead of arrival). The Python operators stay as the showcase of
the keyed-state APIs — the streaming_custom_state and state-v2 drain
gates run them — and as the arrival-order reference the JVM builder is
tested against. They are Arrow-batched (not row-at-a-time) and pay a
fixed Python cost per key per micro-batch.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigdata_invoice_stream_analysis_spark.schemas import INVOICE_STATE_SCHEMA
from bigdata_invoice_stream_analysis_spark.streaming.pipeline import MAX_PRICE_SEED

_STATE_SCHEMA = (
    "spq double, mn double, mx double, number_items double, "
    "last_updated long, lines int"
)


def _invoice_fold():
    """Build the reference's per-key step (InvoicePipeline.scala:93-130),
    the ONE fold the v1 updater and the v2 processor share. It is
    defined inside this factory, imports what it uses in its own body
    and reads its seeds from this scope, so cloudpickle ships it BY
    VALUE: the v2 processor runs in a Python worker whose sys.path need
    not contain this package (see _make_processor).

    ``fold(key, prev, pdf_iter, batch_ms)`` folds one micro-batch's
    Arrow chunks for ``key`` into ``prev`` (the state tuple of
    _STATE_SCHEMA, or None for a new key). It returns None when the
    batch had no rows for the key, else ``(state, row)``: the new state
    tuple and the one-row INVOICE_STATE_SCHEMA frame. ``batch_ms``
    stamps LastUpdated; None or a value ≤ 0 means wall-clock now."""
    # Reference dummy-state seeds (InvoicePipeline.scala:96): +inf
    # dominates min like Double.MaxValue; max starts at MinPositiveValue.
    seed_min, seed_max = float("inf"), MAX_PRICE_SEED

    def fold(key, prev, pdf_iter, batch_ms):
        import math
        import time

        import pandas as pd

        if prev is not None:
            spq, mn, mx, number_items, _last, lines = prev
        else:
            spq, mn, mx, number_items, lines = 0.0, seed_min, seed_max, 0.0, 0
        head_hour, customer, saw_data = 0.0, "", False
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            if not saw_data:
                # Head purchase of this batch (InvoicePipeline.scala:104).
                head = pdf.iloc[0]
                ts = head["ts"]
                head_hour = (
                    0.0 if pd.isna(ts) else float(ts.hour + ts.minute / 60.0)
                )
                customer = str(head["CustomerID"])
                saw_data = True
            # Line-by-line sums of the weighted mean
            # (InvoicePipeline.scala:109-114).
            for price, qty in zip(pdf["UnitPrice"], pdf["Quantity"]):
                price, qty = float(price), float(qty)
                spq += price * qty
                mn = min(mn, price)
                mx = max(mx, price)
                number_items += qty
        if not saw_data:
            return None
        avg = spq / number_items if number_items else math.nan
        lines += 1
        if batch_ms is None or batch_ms <= 0:
            batch_ms = time.time_ns() // 1_000_000
        row = pd.DataFrame(
            {
                "InvoiceNo": [key[0]],
                "AvgUnitPrice": [avg],
                "MinUnitPrice": [mn],
                "MaxUnitPrice": [mx],
                "Time": [head_hour],
                "NumberItems": [number_items],
                "LastUpdated": [batch_ms],
                "Lines": [lines],
                "CustomerID": [customer],
            }
        )
        return (spq, mn, mx, number_items, batch_ms, lines), row

    return fold


def _make_updater(evict_after_ms: int | None):
    fold = _invoice_fold()

    def update(
        key: tuple[str],
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # Reference eviction: a batch with no new purchases for the
            # key returns None → state dropped (InvoicePipeline.scala:99).
            state.remove()
            return
        out = fold(key, state.get if state.exists else None, pdf_iter, None)
        if out is None:
            return
        new_state, row = out
        state.update(new_state)
        if evict_after_ms is not None:
            state.setTimeoutDuration(evict_after_ms)
        yield row

    return update


def apply_invoice_state(
    purchases: DataFrame, evict_after_ms: int | None = None
) -> DataFrame:
    """W2 — the legacy-exact stateful aggregation. Input: good purchase
    rows with ``ts`` (pipeline.good_purchases). Output mode: update.

    evict_after_ms approximates the reference's drop-quiet-keys behavior
    with a processing-time timeout; None keeps state indefinitely.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if evict_after_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return purchases.groupBy("InvoiceNo").applyInPandasWithState(
        _make_updater(evict_after_ms),
        outputStructType=INVOICE_STATE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def _make_processor(evict_after_ms: int | None):
    """Build the state-v2 processor as a SELF-CONTAINED dynamic class:
    transformWithState runs the processor in a separately-spawned
    long-lived Python driver worker whose sys.path need not contain
    this package, so the class (and every helper it touches) must
    cloudpickle BY VALUE — a module-level class would serialize as a
    by-name import and crash that worker with ModuleNotFoundError.
    Only pyspark/pandas (always on the worker path) are imported; the
    fold comes from the by-value _invoice_fold factory."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    fold = _invoice_fold()
    state_schema = _STATE_SCHEMA

    class InvoiceStateProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "invoice", state_schema, evict_after_ms
            )

        def handleInputRows(self, key, rows, timer_values):
            out = fold(
                key,
                self._state.get(),
                rows,
                int(timer_values.getCurrentProcessingTimeInMs()),
            )
            if out is None:
                return
            new_state, row = out
            self._state.update(new_state)
            yield row

        def close(self) -> None:
            pass

    return InvoiceStateProcessor()


def _make_timer_processor():
    """State-v2 TIMER processor (registerTimer + handleExpiredTimer) as
    a self-contained dynamic class (same cloudpickle-by-value rule as
    _make_processor). Semantics, all measured (scripts r5 experiment):
    a timer registered at currentProcessingTimeInMs − 1 is already
    expired, and the engine evaluates expired timers WITHIN the same
    micro-batch AFTER input rows — so each data batch that touches a
    key fires exactly one timer callback for it; fired timers are
    auto-deleted (never re-fire). That makes the timer surface fully
    deterministic: per key, fires == number of data micro-batches, and
    the LAST fire emits the completed running totals."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class InvoiceTimerProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._handle = handle
            self._state = handle.getValueState(
                "totals", "n_rows long, qty_sum long, fires int"
            )

        def handleInputRows(self, key, rows, timer_values):
            n_rows, qty_sum, fires = self._state.get() or (0, 0, 0)
            saw = False
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                saw = True
                n_rows += len(pdf)
                qty_sum += int(sum(int(q) for q in pdf["Quantity"]))
            if not saw:
                return
            self._state.update((n_rows, qty_sum, fires))
            # Already-expired: fires later THIS batch, after all input.
            self._handle.registerTimer(
                timer_values.getCurrentProcessingTimeInMs() - 1
            )
            return
            yield  # pragma: no cover - generator form, emits nothing

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            import pandas as pd

            n_rows, qty_sum, fires = self._state.get() or (0, 0, 0)
            fires += 1
            self._state.update((n_rows, qty_sum, fires))
            yield pd.DataFrame(
                {
                    "InvoiceNo": [key[0]],
                    "n_rows": [n_rows],
                    "qty_sum": [qty_sum],
                    "n_fires": [fires],
                }
            )

        def close(self) -> None:
            pass

    return InvoiceTimerProcessor()


def transform_invoice_timers(purchases: DataFrame) -> DataFrame:
    """W2 on state-v2 TIMERS: keyed running totals where every output
    row is emitted by handleExpiredTimer, not by input processing —
    the register/fire/auto-delete lifecycle is the operator. Input
    batches only update state and arm an already-expired processing-
    time timer; the engine's same-batch timer evaluation then emits
    the snapshot. Requires timeMode="ProcessingTime" (so the drain
    must be stopped from the driver — see run_timer_state_drain) and
    the RocksDB provider. Wire served by the miniproto shim exactly as
    transform_invoice_state."""
    try:
        from bigdata_invoice_stream_analysis_spark.vendor.protobuf_shim import (
            ensure_on_workers,
            install,
        )

        install()
        ensure_on_workers(purchases.sparkSession)
    except Exception as e:  # pragma: no cover - defensive
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "and the in-repo miniproto shim could not be installed"
        ) from e
    return purchases.groupBy("InvoiceNo").transformWithStateInPandas(
        _make_timer_processor(),
        outputStructType=(
            "InvoiceNo string, n_rows long, qty_sum long, n_fires int"
        ),
        outputMode="update",
        timeMode="ProcessingTime",
    )


def _make_list_map_processor():
    """State-v2 LIST + MAP state processor (self-contained dynamic
    class, cloudpickle-by-value — same rule as _make_processor). Per
    invoice key it keeps BOTH remaining typed-state kinds the v2 API
    offers beyond value state:

      * ListState "batch_qty": one entry per data micro-batch — that
        batch's integer quantity subtotal, appended in arrival order
        (the staged buckets' mtime order), so a position-weighted
        checksum over the list proves the ENGINE preserved list order
        across batches;
      * MapState "band_rows": row counts keyed by the line's integer
        quantity band (abs(qty) % 4) — containsKey/getValue/
        updateValue per band, order-independent checksum.

    Emitted per data batch (update mode; last emission wins): the list
    length, the 1-indexed position-weighted sum Σ i·qty_i, the map
    size, and Σ band·count."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class InvoiceListMapProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._list = handle.getListState("batch_qty", "qty long")
            self._map = handle.getMapState(
                "band_rows", "band int", "cnt long"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            batch_qty = 0
            band_counts: dict[int, int] = {}
            saw = False
            for pdf in rows:
                if len(pdf) == 0:
                    continue
                saw = True
                for q in pdf["Quantity"]:
                    qi = int(q)
                    batch_qty += qi
                    band = abs(qi) % 4  # abs: Python % floors,
                    band_counts[band] = band_counts.get(band, 0) + 1
                    # SQL % truncates — they agree only on non-negatives
            if not saw:
                return
            self._list.appendValue((batch_qty,))
            for band, cnt in band_counts.items():
                prev = (
                    self._map.getValue((band,))
                    if self._map.containsKey((band,))
                    else None
                )
                self._map.updateValue(
                    (band,), ((prev[0] if prev else 0) + cnt,)
                )
            qtys = [t[0] for t in self._list.get()]
            bands = [(k[0], v[0]) for k, v in self._map.iterator()]
            yield pd.DataFrame(
                {
                    "InvoiceNo": [key[0]],
                    "n_batches": [len(qtys)],
                    "weighted_qty": [
                        sum((i + 1) * q for i, q in enumerate(qtys))
                    ],
                    "n_bands": [len(bands)],
                    "band_checksum": [sum(b * c for b, c in bands)],
                }
            )

        def close(self) -> None:
            pass

    return InvoiceListMapProcessor()


def transform_invoice_list_map(purchases: DataFrame) -> DataFrame:
    """W2 on state-v2 LIST and MAP state — the two composable typed
    state kinds beyond value state (getListState / getMapState), which
    the v1 applyInPandasWithState API cannot express without manual
    encoding into one struct. timeMode stays "None" (no TTL, no
    timers), so the plain availableNow drain terminates. Wire served
    by the miniproto shim exactly as transform_invoice_state."""
    try:
        from bigdata_invoice_stream_analysis_spark.vendor.protobuf_shim import (
            ensure_on_workers,
            install,
        )

        install()
        ensure_on_workers(purchases.sparkSession)
    except Exception as e:  # pragma: no cover - defensive
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "and the in-repo miniproto shim could not be installed"
        ) from e
    return purchases.groupBy("InvoiceNo").transformWithStateInPandas(
        _make_list_map_processor(),
        outputStructType=(
            "InvoiceNo string, n_batches int, weighted_qty long, "
            "n_bands int, band_checksum long"
        ),
        outputMode="update",
        timeMode="None",
    )


def transform_invoice_state(
    purchases: DataFrame, evict_after_ms: int | None = None
) -> DataFrame:
    """W2 on the transformWithState (state v2) API — Spark 4's
    successor to applyInPandasWithState, with identical semantics to
    apply_invoice_state. What the new API buys at scale: typed named
    state slots with engine-managed per-value TTL (``evict_after_ms``
    maps to ttlDurationMs — no hand-rolled timeout dance), composable
    List/Map state for richer operators, and first-class timers.
    Requires the RocksDB state store provider. timeMode is
    "ProcessingTime" only when TTL is requested (TTL requires it) and
    "None" otherwise — NOT harmless to leave on: with ProcessingTime
    the engine keeps scheduling timer-evaluation micro-batches, so an
    availableNow drain never terminates (measured: 267 empty batches
    before timeout).

    Wire dependency: the v2 state-server protocol speaks protobuf
    between the JVM and its Python workers. A real ``protobuf`` package
    is used when installed; otherwise the in-repo miniproto shim
    (vendor/protobuf_shim — a from-scratch implementation of the public
    proto3 wire format) is installed on the driver and shipped to the
    Python workers via addPyFile, so state-v2 executes even in
    environments without the dependency. If neither can be set up this
    raises immediately (clear error beats a mid-query worker crash),
    and apply_invoice_state remains the equivalent fallback."""
    try:
        from bigdata_invoice_stream_analysis_spark.vendor.protobuf_shim import (
            ensure_on_workers,
            install,
        )

        install()
        ensure_on_workers(purchases.sparkSession)
    except Exception as e:  # pragma: no cover - defensive
        raise RuntimeError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark's state-v2 wire protocol) and the in-repo miniproto "
            "shim could not be installed; use apply_invoice_state "
            "on environments without it"
        ) from e
    return purchases.groupBy("InvoiceNo").transformWithStateInPandas(
        _make_processor(evict_after_ms),
        outputStructType=INVOICE_STATE_SCHEMA,
        outputMode="update",
        timeMode="ProcessingTime" if evict_after_ms is not None else "None",
    )
