"""Output checks.  Expected results come from DuckDB on the generated
inputs (``expected``, run in the preparing child process); each Spark
result is reduced to a verdict right after it is timed (``verdict``).

* An op with a twin in ``workload.ORACLE_SQL`` must match it row for row
  under the canonicalisation of ``tests/test_oracle.py``.
* ``d03_minhash`` and ``d04_simhash`` are approximate: they must reach
  the recall ``tests/test_recall.py`` pins against the exact pairs.
* The E-T-L steps: ``etl_extract`` must infer ``SALES_SCHEMA``,
  ``etl_load`` must write what DuckDB computes by applying the same
  cleaning to the same CSV (row count plus column checksums), and
  ``etl_readback`` must count the rows DuckDB keeps.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads

from workloads import ETL_EXTRACT, ETL_LOAD, ETL_READBACK

# op -> (exact-pair query, minimum recall); bars from tests/test_recall.py
RECALL = {
    "d03_minhash": ("jaccard", 0.8),
    "d04_simhash": ("exact_dup", 1.0),
}

# what Spark's CSV schema inference must make of the generated sheet
SALES_SCHEMA = [
    ["Transaction_ID", "string"], ["Date", "date"], ["Customer_Name", "string"],
    ["Product_ID", "int"], ["Region", "string"], ["Quantity", "int"],
    ["Total_Price", "int"], ["Status", "string"],
]

ETL_COLUMNS = (
    "rows", "distinct_trx", "sum_quantity", "sum_total_price", "sum_region_len",
    "n_jakarta", "n_jkt", "n_unknown_region", "sum_status1_len", "sum_status2_len",
    "min_date", "max_date", "sum_p_size",
)

_ETL_SQL = """
WITH src AS (
  SELECT * FROM read_csv('{csv}', header = true, columns = {{
    'Transaction_ID': 'VARCHAR', 'Date': 'DATE', 'Customer_Name': 'VARCHAR',
    'Product_ID': 'BIGINT', 'Region': 'VARCHAR', 'Quantity': 'BIGINT',
    'Total_Price': 'BIGINT', 'Status': 'VARCHAR'}})
),
filled AS (
  SELECT DISTINCT Transaction_ID, "Date", Customer_Name, Product_ID,
         COALESCE(Region, 'Unknown') AS Region, COALESCE(Quantity, 0) AS Quantity,
         Total_Price, Status
  FROM src
),
shaped AS (
  SELECT * REPLACE (CASE WHEN Region = 'Jkt' THEN 'Jakarta' ELSE Region END AS Region),
         split_part(Status, '/', 1) AS Status_1, split_part(Status, '/', 2) AS Status_2
  FROM filled
),
out AS (
  SELECT * FROM shaped JOIN part ON Product_ID = p_partkey WHERE Status_1 <> 'Cancelled'
)
SELECT COUNT(*), COUNT(DISTINCT Transaction_ID), SUM(Quantity), SUM(Total_Price),
       SUM(length(Region)), COUNT(*) FILTER (WHERE Region = 'Jakarta'),
       COUNT(*) FILTER (WHERE Region = 'Jkt'), COUNT(*) FILTER (WHERE Region = 'Unknown'),
       SUM(length(Status_1)), SUM(length(Status_2)),
       CAST(MIN("Date") AS VARCHAR), CAST(MAX("Date") AS VARCHAR), SUM(p_size)
FROM out
"""

_EXACT_DUP_SQL = """
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM documents a JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id
"""


def _digest(columns: list[str], rows: list[tuple]) -> str:
    from tests.test_oracle import _canon_rows

    cols, canon = _canon_rows(columns, rows)
    return hashlib.sha256(repr((cols, canon)).encode()).hexdigest()


def expected(con, ops: tuple[str, ...], data_dir: str) -> dict[str, dict]:
    """DuckDB's answer for every checkable op.  ``con`` has the ten
    tables registered as views over ``data_dir``."""
    from etlbigdata_spark import workload

    out: dict[str, dict] = {}
    etl = None
    for op in ops:
        if op == ETL_EXTRACT:
            out[op] = {"kind": "schema", "fields": SALES_SCHEMA}
        elif op in (ETL_LOAD, ETL_READBACK):
            if etl is None:
                row = con.sql(_ETL_SQL.format(csv=f"{data_dir}/sales.csv")).fetchone()
                etl = dict(zip(ETL_COLUMNS, _plain(row)))
            out[op] = ({"kind": "etl", "aggregates": etl} if op == ETL_LOAD
                       else {"kind": "count", "rows": etl["rows"]})
        elif op in RECALL:
            kind, bar = RECALL[op]
            sql = workload._jaccard_oracle_sql(threshold=0.5) if kind == "jaccard" else _EXACT_DUP_SQL
            pairs = sorted({(int(r[0]), int(r[1])) for r in con.sql(sql).fetchall()})
            out[op] = {"kind": "recall", "bar": bar, "pairs": pairs}
        elif op in workload.ORACLE_SQL:
            rel = con.sql(workload.ORACLE_SQL[op])
            rows = rel.fetchall()
            if not rows:
                raise ValueError(f"{op}: the oracle returns no rows on this input, so a check would prove nothing")
            out[op] = {"kind": "oracle", "rows": len(rows), "digest": _digest(list(rel.columns), rows)}
        else:
            raise ValueError(f"{op} has no oracle twin and no recall bar")
    return out


def _plain(row) -> list:
    return [v if v is None or isinstance(v, str) else int(v) for v in row]


def arrow_rows(table: pa.Table) -> tuple[list[str], list[tuple]]:
    """Rows of a Spark Arrow result as the Python values ``collect()``
    returns: zone-tagged timestamps become the naive UTC wall clock."""
    cols = []
    for field, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            col = col.cast(pa.timestamp(field.type.unit))
        cols.append(col.to_pylist())
    return list(table.column_names), list(zip(*cols)) if cols else []


def etl_aggregates(out_dir: str) -> dict:
    """The ETL_COLUMNS checksums over the parquet files Spark wrote,
    read one column at a time."""
    ds = pads.dataset(out_dir, format="parquet")

    def col(name):
        return ds.to_table(columns=[name]).column(name)

    def total(arr) -> int:
        v = pc.sum(arr).as_py()
        return int(v) if v is not None else 0

    region, dates = col("Region"), col("Date")
    return {
        "rows": ds.count_rows(),
        "distinct_trx": pc.count_distinct(col("Transaction_ID")).as_py(),
        "sum_quantity": total(col("Quantity")),
        "sum_total_price": total(col("Total_Price")),
        "sum_region_len": total(pc.utf8_length(region)),
        "n_jakarta": total(pc.equal(region, "Jakarta").cast(pa.int64())),
        "n_jkt": total(pc.equal(region, "Jkt").cast(pa.int64())),
        "n_unknown_region": total(pc.equal(region, "Unknown").cast(pa.int64())),
        "sum_status1_len": total(pc.utf8_length(col("Status_1"))),
        "sum_status2_len": total(pc.utf8_length(col("Status_2"))),
        "min_date": str(pc.min(dates).as_py()),
        "max_date": str(pc.max(dates).as_py()),
        "sum_p_size": total(col("p_size")),
    }


def verdict(op: str, expect: dict, result) -> str | None:
    """None when ``result`` is right, else a one-line reason.  ``result``
    is the Arrow table an op returned; for the E-T-L steps it is the
    extracted DataFrame's schema, the output dir, or the read-back count."""
    kind = expect["kind"]
    if kind == "schema":
        got = [[f.name, f.dataType.simpleString()] for f in result.fields]
        return None if got == expect["fields"] else f"inferred schema {got}"
    if kind == "etl":
        got = etl_aggregates(result)
        if got != expect["aggregates"]:
            bad = {k: (got[k], v) for k, v in expect["aggregates"].items() if got.get(k) != v}
            return f"checksums differ (got, want): {bad}"
        return None
    if kind == "count":
        return None if result == expect["rows"] else f"read back {result} rows, want {expect['rows']}"
    if kind == "recall":
        want = {tuple(p) for p in expect["pairs"]}
        if not want:
            return "no exact pairs to recall: the generated input planted none"
        ids = result.select(["id_a", "id_b"]).to_pydict()
        got = set(zip(ids["id_a"], ids["id_b"]))
        recall = len(want & got) / len(want)
        return None if recall >= expect["bar"] else f"recall {recall:.3f} < {expect['bar']}"
    cols, rows = arrow_rows(result)
    if len(rows) != expect["rows"]:
        return f"{len(rows)} rows, oracle has {expect['rows']}"
    return None if _digest(cols, rows) == expect["digest"] else "rows differ from the oracle"


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a written output directory."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return size, files
