"""Seeded input generators. Pure Python (pyarrow only writes the parquet
tables); no Spark is imported here, so inputs are made before the system
under test starts and never depend on it.

Two inputs:

* ``purchase_lines``: the reference's 8-field CSV purchase lines
  (InvoiceNo, StockCode, Description, Quantity, InvoiceDate, UnitPrice,
  CustomerID, Country) in event-time order. Lines per invoice are
  heavy-tailed, ~2% of lines are cancellations, ~3% are malformed and
  ~1.5-2% of purchase invoices are outliers that the fixed models in
  ``MODELS`` flag. Invoices that arrive late are at most ``MAX_DELAY_S``
  behind the newest line, well inside the pipeline's 10-minute
  watermark, so no line is dropped as late and every sink is checkable.
* ``write_tables``: the ten test tables (TPC-H-like star schema plus
  events, documents and embeddings) at sf0.01 sizes for the registry.

Files are staged under a dot-name (which Spark's file source skips) and
renamed, with strictly increasing mtimes so the file source orders them
as written.
"""

from __future__ import annotations

import datetime as dt
import os
import random

EPOCH = dt.datetime(2011, 1, 4, 8, 0)
MAX_DELAY_S = 240
WATERMARK_S = 600

FEATURE_COLS = ["AvgUnitPrice", "MinUnitPrice", "MaxUnitPrice", "Time", "NumberItems"]

# Fixed centroids and squared-distance thresholds. Every prefix of a
# normal invoice (prices <= 20, at most 300 lines of <= 24 items) stays
# well inside both thresholds, and every prefix of an outlier invoice
# (all prices >= 12000, or every line >= 12000 items) lies well outside,
# so the flagged set does not depend on how lines are cut into batches.
MODELS = {
    "kmeans": {
        "centers": [[3.0, 1.5, 6.0, 11.0, 60.0], [5.0, 2.0, 12.0, 14.0, 250.0]],
        "threshold": 1.0e8,
    },
    "bisecting": {
        "centers": [
            [4.0, 2.0, 8.0, 12.0, 100.0],
            [6.0, 3.0, 15.0, 15.0, 400.0],
            [2.5, 1.0, 5.0, 10.0, 30.0],
        ],
        "threshold": 1.2e8,
    },
}

_WORDS = [
    "WHITE", "HANGING", "HEART", "LANTERN", "METAL", "CREAM", "CUPID",
    "GLASS", "STAR", "RED", "WOOLLY", "HOTTIE", "BAG", "JUMBO", "SET",
    "CAKE", "CASES", "VINTAGE", "DOILY", "TEA", "LUNCH", "BOX", "PINK",
]
_COUNTRIES = ["United Kingdom", "France", "Germany", "EIRE", "Spain", "Netherlands"]
_MALFORMED = ("short", "long", "no_customer", "bad_quantity", "no_description")


def fmt_date(minute: int) -> str:
    """Minutes since EPOCH as the reference's unpadded ``M/d/yyyy H:mm``."""
    d = EPOCH + dt.timedelta(minutes=minute)
    return f"{d.month}/{d.day}/{d.year} {d.hour}:{d.minute:02d}"


def _lines_per_invoice(rnd) -> int:
    # Discrete Pareto (alpha 1.3, scale 4), capped: mean ~15 lines.
    return min(300, int(4 * (1.0 - rnd()) ** (-1 / 1.3)))


_QUANTITIES = (1, 1, 2, 3, 4, 6, 12, 24)


def _products(rng: random.Random) -> list[tuple[str, str]]:
    return [
        (
            f"{rng.randrange(10000, 90000)}{rng.choice(['', 'A', 'B'])}",
            " ".join(rng.sample(_WORDS, rng.randint(2, 4))),
        )
        for _ in range(500)
    ]


def _invoice_lines(rng, products, no: int, kind: str, minute: int) -> list[str]:
    rnd = rng.random
    date = fmt_date(minute)
    cust = str(12346 + int(rnd() * 4000))
    country = _COUNTRIES[int(rnd() * len(_COUNTRIES))]
    if kind == "cancel":
        inv, n = f"C{no}", 1 + int(rnd() * 3)
    elif kind == "normal":
        inv, n = str(no), _lines_per_invoice(rnd)
    else:
        inv, n = str(no), 1 + int(rnd() * 4)
    out = []
    for _ in range(n):
        stock, desc = products[int(rnd() * len(products))]
        if kind == "price_outlier":
            qty, price = 1 + int(rnd() * 3), 12000 + rnd() * 28000
        elif kind == "bulk":
            qty, price = 12000 + int(rnd() * 68000), 0.1 + rnd() * 2.9
        else:
            qty, price = _QUANTITIES[int(rnd() * 8)], 0.1 + rnd() * 19.9
        if kind == "cancel":
            qty = -qty
        if rnd() < 0.03:
            fields = [inv, stock, desc, str(qty), date, f"{price:.2f}", cust, country]
            bad = _MALFORMED[int(rnd() * len(_MALFORMED))]
            if bad == "short":
                fields.pop()
            elif bad == "long":
                fields.append("x")
            elif bad == "no_customer":
                fields[6] = ""
            elif bad == "bad_quantity":
                fields[3] = "abc"
            else:
                fields[2] = ""
            out.append(",".join(fields))
        else:
            out.append(f"{inv},{stock},{desc},{qty},{date},{price:.2f},{cust},{country}")
    return out


def purchase_lines(seed: int, n_lines: int) -> list[tuple[int, str]]:
    """About ``n_lines`` (whole invoices) as ``(event minute, line)`` in
    arrival order. The same seed gives the same list."""
    rng = random.Random(seed)
    rnd = rng.random
    products = _products(rng)
    invoices = []  # (arrival second, seq, minute, lines)
    t, no, total = 0.0, 536365 + rng.randrange(1000), 0
    while total < n_lines:
        t += rnd() * 40
        r = rnd()
        kind = (
            "cancel" if r < 0.12
            else "price_outlier" if r < 0.13
            else "bulk" if r < 0.135
            else "normal"
        )
        minute = int(t // 60)
        lines = _invoice_lines(rng, products, no, kind, minute)
        delay = 30 + rnd() * (MAX_DELAY_S - 30) if rnd() < 0.04 else 0.0
        invoices.append((t + delay, len(invoices), minute, lines))
        no += 1
        total += len(lines)
    invoices.sort()
    return [(m, line) for _, _, m, lines in invoices for line in lines]


def chunks(lines: list[tuple[int, str]], n: int) -> list[list[str]]:
    """Cut ``lines`` into ``n`` contiguous, nearly equal chunks."""
    step, extra = divmod(len(lines), n)
    out, i = [], 0
    for k in range(n):
        j = i + step + (k < extra)
        out.append([text for _, text in lines[i:j]])
        i = j
    return out


class ChunkWriter:
    """Writes line chunks into one directory: staged under a dot-name,
    renamed into place, each with an mtime strictly after the last."""

    def __init__(self, directory: str):
        self.directory = directory
        self.count = 0
        self._last_ns = 0
        os.makedirs(directory, exist_ok=True)

    def write(self, lines: list[str]) -> str:
        name = f"part-{self.count:05d}.txt"
        tmp = os.path.join(self.directory, f".{name}.tmp")
        final = os.path.join(self.directory, name)
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        ns = max(os.stat(tmp).st_mtime_ns, self._last_ns + 1_000_000)
        os.utime(tmp, ns=(ns, ns))
        os.rename(tmp, final)
        self._last_ns = ns
        self.count += 1
        return final


def realised_shares(lines: list[tuple[int, str]], ref) -> dict:
    """The properties the workload was built to have, as generated."""
    n = len(lines)
    late, newest = 0, -1
    for minute, _ in lines:
        if minute < newest:
            late += 1
        newest = max(newest, minute)
    return {
        "lines": n,
        "invoices": ref.n_invoices,
        "invalid_share": round(ref.n_invalid / n, 5),
        "cancellation_share": round(ref.n_cancel_lines / n, 5),
        "out_of_order_share": round(late / n, 5),
        "flagged_share": round(len(ref.flagged["kmeans"]) / max(1, ref.n_purchase_invoices), 5),
    }


# --------------------------------------------------------------------------
# Registry tables


def write_tables(seed: int, directory: str) -> None:
    """The ten test tables (schemas.TESTDATA_TABLES) at sf0.01 sizes as ``<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    os.makedirs(directory, exist_ok=True)

    def day(start: dt.datetime, span_days: int) -> dt.datetime:
        return start + dt.timedelta(days=rng.randrange(span_days))

    def cents(lo: float, hi: float) -> float:
        return round(rng.uniform(lo, hi), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(range(1500), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(1500)],
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(1500)], pa.int32()),
            "c_acctbal": [cents(-999.99, 9999.99) for _ in range(1500)],
            "c_mktsegment": [
                rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
                for _ in range(1500)
            ],
        },
        "supplier": {
            "s_suppkey": pa.array(range(100), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(100)],
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(100)], pa.int32()),
            "s_acctbal": [cents(-999.99, 9999.99) for _ in range(100)],
        },
    }
    adjectives = ["small", "red", "blue", "hot", "old", "large", "green", "shiny"]
    nouns = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
    tables["part"] = {
        "p_partkey": pa.array(range(2000), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(2000)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(2000)],
        "p_type": [
            rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
            for _ in range(2000)
        ],
        "p_size": pa.array([rng.randint(1, 50) for _ in range(2000)], pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(2000)],
    }
    tables["orders"] = {
        "o_orderkey": pa.array(range(15000), pa.int64()),
        "o_custkey": pa.array([rng.randrange(1500) for _ in range(15000)], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(15000)],
        "o_totalprice": [cents(1000, 500000) for _ in range(15000)],
        "o_orderdate": pa.array(
            [day(dt.datetime(1995, 1, 1), 2404) for _ in range(15000)], pa.timestamp("us")
        ),
        "o_orderpriority": [
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
            for _ in range(15000)
        ],
    }
    tables["lineitem"] = {
        "l_orderkey": pa.array([rng.randrange(15000) for _ in range(60000)], pa.int64()),
        "l_partkey": pa.array([rng.randrange(2000) for _ in range(60000)], pa.int64()),
        "l_suppkey": pa.array([rng.randrange(100) for _ in range(60000)], pa.int64()),
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(60000)], pa.int32()),
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(60000)],
        "l_extendedprice": [cents(900, 105000) for _ in range(60000)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(60000)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(60000)],
        "l_returnflag": [rng.choice("ANR") for _ in range(60000)],
        "l_linestatus": [rng.choice("OF") for _ in range(60000)],
        "l_shipdate": pa.array(
            [day(dt.datetime(1995, 1, 2), 2498) for _ in range(60000)], pa.timestamp("us")
        ),
    }
    t0 = dt.datetime(2024, 1, 1)
    ev_ts = sorted(
        t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6)) for _ in range(10000)
    )
    tables["events"] = {
        "event_id": pa.array(range(10000), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(150) for _ in range(10000)], pa.int64()),
        "event_type": [
            rng.choice(["click", "view", "purchase", "signup", "error"]) for _ in range(10000)
        ],
        "value": [round(min(490.0, rng.expovariate(1 / 40)) + 0.01, 2) for _ in range(10000)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(10000)],
    }
    vocab = (
        "join hash row batch scan customer column filter small slow merge order vector "
        "line data table agg value key stream window spark a group part big sort query "
        "fast the"
    ).split()
    texts: list[str] = []
    for i in range(500):
        if texts and rng.random() < 0.05:
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(8, 100))))
    langs = ["en"] * 44 + ["fr", "es", "zh", "de"] * 14
    tables["documents"] = {
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(500)],
        "source": [f"src{rng.randrange(20)}" for _ in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    vectors, labels = [], []
    for _ in range(500):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 3) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vectors.append([x / norm for x in v])
        labels.append(label)
    tables["embeddings"] = {
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(vectors, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"))
