"""Seeded input generator for the benchmark.

Writes the ten tables the workload registry reads (the TPC-H-style star
schema plus ``events``, ``documents`` and ``embeddings``, with the column
names, types and value domains the declared queries filter on) and the
dirty sales CSV of the Extract -> Transform -> Load round trip.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same
seed and scale give the same bytes, another seed moves keys, text and
where the dirt lands but keeps every row count and the shape.  The
program under test only ever sees the written files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
SALES_REGIONS = ["Jakarta", "Jkt", "Bandung", "Surabaya", "Medan", "Denpasar"]
SALES_STATUS = ["Paid/R", "Paid/F", "Pending/R", "Pending/F", "Cancelled/R"]
EMB_DIM = 64

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@dataclass(frozen=True)
class Scale:
    """Row counts of one generated data set.  lineitem is ~4 rows per
    order and customers/parts/suppliers keep the fixture ratios."""

    orders: int
    events: int
    documents: int
    embeddings: int
    sales: int

    @property
    def lineitem(self) -> int:
        return 4 * self.orders

    @property
    def customer(self) -> int:
        return self.orders // 10

    @property
    def part(self) -> int:
        return max(50, self.orders * 2 // 15)

    @property
    def supplier(self) -> int:
        return max(10, self.orders // 150)


def _dates(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    # whole cents, so every sum is exact at 4 dp (the decimal oracles rely on it)
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    """Word-stream documents of 10-99 tokens.  ~5% are near duplicates
    (an earlier document plus one appended token) and ~1% exact copies,
    so the dedup operators always have planted pairs to find."""
    lens = rng.integers(10, 100, n)
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and kind[i] < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts), np.int64, n)),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.standard_normal((10, EMB_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + 0.8 * rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(label.astype(np.int32)),
    })


def _events(rng, n: int) -> pa.Table:
    n_users = max(10, n * 3 // 200)
    gaps = rng.exponential(30 * 86_400e6 / n, n)
    ts = (np.datetime64("2024-01-01", "us").astype(np.int64) + np.cumsum(gaps).astype(np.int64))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2) + 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def star_schema(rng, s: Scale) -> dict[str, pa.Table]:
    n_o, n_l, n_c, n_p, n_s = s.orders, s.lineitem, s.customer, s.part, s.supplier
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
            "c_name": _names("Customer", n_c),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n_c, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_c),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
            "s_name": _names("Supplier", n_s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n_s, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
            "p_name": _pick(rng, part_names, n_p),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_p)], pa.string()),
            "p_type": _pick(rng, PART_TYPES, n_p),
            "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_p) % 1000) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
            "o_orderstatus": _pick(rng, ORDER_STATUS, n_o),
            "o_totalprice": pa.array(_money(rng, n_o, 1000.0, 500000.0)),
            "o_orderdate": pa.array(_dates(rng, n_o, "1995-01-01", "2001-08-01")),
            "o_orderpriority": _pick(rng, PRIORITIES, n_o),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_l, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_l),
            "l_linestatus": _pick(rng, ["F", "O"], n_l),
            "l_shipdate": pa.array(_dates(rng, n_l, "1995-01-02", "2001-11-04")),
        }),
    }


def sales_csv(rng, n: int, n_customers: int, n_parts: int) -> pa.Table:
    """The reference workbench's dirty sales sheet at scale: NULL
    Quantity and Region (~3% each), ~2% exact duplicate rows, the
    ``Jkt`` spelling of ``Jakarta`` and an ``R/F`` suffix on Status."""
    n_dup = n // 50
    base = n - n_dup
    qty = rng.integers(1, 21, base).astype(np.float64)
    qty[rng.random(base) < 0.03] = np.nan
    region = np.asarray(SALES_REGIONS, dtype=object)[rng.choice(len(SALES_REGIONS), base)]
    region[rng.random(base) < 0.03] = None
    cols = {
        "Transaction_ID": np.array([f"TRX-{k}" for k in rng.permutation(base) + 100], dtype=object),
        "Date": _dates(rng, base, "2024-01-01", "2024-12-31").astype("datetime64[D]"),
        "Customer_Name": np.array([f"Customer#{k:09d}" for k in rng.integers(0, n_customers, base)], dtype=object),
        "Product_ID": rng.integers(0, n_parts, base).astype(np.int64),
        "Region": region,
        "Quantity": qty,
        "Total_Price": rng.integers(10_000, 5_000_000, base).astype(np.int64),
        "Status": np.asarray(SALES_STATUS, dtype=object)[rng.choice(len(SALES_STATUS), base)],
    }
    # duplicates are verbatim copies inserted at seeded positions
    rows = np.concatenate([np.arange(base), rng.integers(0, base, n_dup)])
    rows = rows[rng.permutation(n)]
    return pa.table({
        "Transaction_ID": pa.array(cols["Transaction_ID"][rows], pa.string()),
        "Date": pa.array(cols["Date"][rows]),
        "Customer_Name": pa.array(cols["Customer_Name"][rows], pa.string()),
        "Product_ID": pa.array(cols["Product_ID"][rows]),
        "Region": pa.array(cols["Region"][rows], pa.string()),
        "Quantity": pa.array(cols["Quantity"][rows], pa.int64(), from_pandas=True),
        "Total_Price": pa.array(cols["Total_Price"][rows]),
        "Status": pa.array(cols["Status"][rows], pa.string()),
    })


def generate(out_dir: str, seed: int, scale: Scale) -> dict[str, int]:
    """Write every input under ``out_dir``; return {file: bytes}.

    Tables are drawn in a fixed order from one generator, so a table's
    bytes depend only on (seed, scale)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = star_schema(rng, scale)
    tables["events"] = _events(rng, scale.events)
    tables["documents"] = _documents(rng, scale.documents)
    tables["embeddings"] = _embeddings(rng, scale.embeddings)
    sizes = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        sizes[f"{name}.parquet"] = os.path.getsize(path)
    path = os.path.join(out_dir, "sales.csv")
    pacsv.write_csv(sales_csv(rng, scale.sales, scale.customer, scale.part), path)
    sizes["sales.csv"] = os.path.getsize(path)
    return sizes
