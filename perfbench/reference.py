"""Expected sink contents computed from the generated lines alone, in
plain Python, and the comparison of what the pipeline wrote against them.

The rules restate the pipeline's documented semantics (operators.validate,
streaming.pipeline, streaming.scoring) independently of its code.
"""

from __future__ import annotations

import calendar
import functools
import math
import re
from collections import Counter, defaultdict
from dataclasses import dataclass, field

from gen import FEATURE_COLS, MODELS

_INT = re.compile(r"^-?\d+$")
_NUM = re.compile(r"^-?\d+(\.\d+)?$")
_DATE = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4}) (\d{1,2}):(\d{2})$")
WINDOW_MIN, SLIDE_MIN = 8, 1
REL_TOL = 1e-9


def is_invalid(fields: list[str]) -> bool:
    if len(fields) != 8 or "" in fields:
        return True
    return not (_INT.match(fields[3]) and _NUM.match(fields[5]))


@functools.lru_cache(maxsize=1 << 16)
def parse_minute(date: str):
    """``M/d/yyyy H:mm`` as epoch minutes (UTC), or None."""
    m = _DATE.match(date)
    if not m:
        return None
    mo, d, y, h, mi = map(int, m.groups())
    return calendar.timegm((y, mo, d, h, mi, 0)) // 60


@dataclass
class Reference:
    invalid: Counter = field(default_factory=Counter)
    cancel_windows: dict = field(default_factory=dict)  # start minute -> count
    invoices: dict = field(default_factory=dict)  # InvoiceNo -> final features
    flagged: dict = field(default_factory=dict)  # model -> {InvoiceNo: (dist, pred)}
    max_minute: int = 0
    n_invoices: int = 0
    n_purchase_invoices: int = 0
    n_invalid: int = 0
    n_cancel_lines: int = 0

    def emitted_windows(self, watermark_min: int) -> dict:
        """Cancellation windows the append-mode sink has emitted once the
        event-time watermark reached ``watermark_min``."""
        return {
            s: c for s, c in self.cancel_windows.items() if s + WINDOW_MIN <= watermark_min
        }


def _sqdist(row: dict, center: list[float]) -> float:
    return sum((row[c] - v) * (row[c] - v) for c, v in zip(FEATURE_COLS, center))


def score(row: dict, centers: list[list[float]]) -> tuple[float, int]:
    return min((_sqdist(row, c), i) for i, c in enumerate(centers))


def build(lines: list[str]) -> Reference:
    ref = Reference()
    cancel_sets: dict[int, set] = defaultdict(set)
    acc: dict[str, list] = {}
    names = set()
    for line in lines:
        fields = line.split(",")
        minute = parse_minute(fields[4]) if len(fields) > 4 else None
        if minute is not None:
            ref.max_minute = max(ref.max_minute, minute)
        names.add(fields[0])
        if is_invalid(fields):
            ref.invalid[line] += 1
            continue
        inv = fields[0]
        if inv.startswith("C"):
            ref.n_cancel_lines += 1
            if minute is not None:
                for s in range(minute - WINDOW_MIN + SLIDE_MIN, minute + 1, SLIDE_MIN):
                    cancel_sets[s].add(inv)
            continue
        qty, price = int(fields[3]), float(fields[5])
        hour = (minute % 1440) // 60 + (minute % 60) / 60.0
        a = acc.get(inv)
        if a is None:
            acc[inv] = [price * qty, qty, price, price, hour, 1, fields[6]]
        else:
            a[0] += price * qty
            a[1] += qty
            a[2] = min(a[2], price)
            a[3] = max(a[3], price)
            a[4] += hour
            a[5] += 1
    ref.n_invalid = sum(ref.invalid.values())
    ref.n_invoices = len(names)
    ref.cancel_windows = {s: len(v) for s, v in cancel_sets.items()}
    for inv, (pq, q, mn, mx, hours, n, cust) in acc.items():
        ref.invoices[inv] = {
            "AvgUnitPrice": pq / q,
            "MinUnitPrice": mn,
            "MaxUnitPrice": mx,
            "Time": hours / n,
            "NumberItems": float(q),
            "Lines": n,
            "CustomerID": cust,
        }
    ref.n_purchase_invoices = len(acc)
    for model, spec in MODELS.items():
        ref.flagged[model] = {}
        for inv, row in ref.invoices.items():
            dist, pred = score(row, spec["centers"])
            if dist > spec["threshold"]:
                ref.flagged[model][inv] = (dist, pred)
    return ref


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=0.0) or a == b


# --------------------------------------------------------------------------
# Sink comparison. Each check returns a list of mismatch descriptions.


def check_invalid(ref: Reference, values: list[str]) -> list[str]:
    got = Counter(values)
    if got == ref.invalid:
        return []
    missing = sum((ref.invalid - got).values())
    extra = sum((got - ref.invalid).values())
    return [f"invalid sink: {missing} lines missing, {extra} unexpected"]


def check_cancellations(ref: Reference, rows: list[tuple[int, int, int]], watermark_min: int) -> list[str]:
    """``rows`` are (window_start_min, window_end_min, n_cancelled)."""
    want = ref.emitted_windows(watermark_min)
    got: dict[int, int] = {}
    errors = []
    for start, end, n in rows:
        if end - start != WINDOW_MIN or start in got:
            errors.append(f"cancellations: bad or repeated window at {start}")
        got[start] = n
    if got != want:
        diff = set(got.items()) ^ set(want.items())
        errors.append(f"cancellations: {len(diff)} windows differ (sink {len(got)}, expected {len(want)})")
    return errors


def check_anomalies(
    ref: Reference, model: str, last_rows: dict[str, dict], exact_state: bool
) -> list[str]:
    """``last_rows`` maps InvoiceNo to the sink's row from its highest
    batch. The legacy-exact state reports the order-dependent ``Time``
    and ``Lines`` of the batch head, so only the order-free fields are
    compared on that path."""
    want = ref.flagged[model]
    errors = []
    if set(last_rows) != set(want):
        errors.append(
            f"{model}: flagged invoices differ "
            f"({len(set(last_rows) - set(want))} unexpected, {len(set(want) - set(last_rows))} missing)"
        )
    fields = ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "NumberItems"]
    if not exact_state:
        fields += ["Time", "Lines", "dist", "prediction"]
    bad = 0
    for inv in set(last_rows) & set(want):
        expect = dict(ref.invoices[inv], dist=want[inv][0], prediction=want[inv][1])
        row = last_rows[inv]
        if row["CustomerID"] != expect["CustomerID"] or not all(
            _close(float(row[f]), float(expect[f])) for f in fields
        ):
            bad += 1
    if bad:
        errors.append(f"{model}: {bad} flagged invoices carry wrong features")
    return errors
