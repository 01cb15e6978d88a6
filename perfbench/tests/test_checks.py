"""A wrong result is a failure, counted against the ops attempted."""

import pyarrow as pa
import pyarrow.parquet as pq

from checks import SALES_SCHEMA, _digest, arrow_rows, etl_aggregates, verdict
from run import tally

ROWS = pa.table({"k": ["a", "b"], "v": [1.25, 2.5]})


def _oracle(table):
    cols, rows = arrow_rows(table)
    return {"kind": "oracle", "rows": len(rows), "digest": _digest(cols, rows)}


def test_oracle_match_passes_in_any_row_and_column_order():
    shuffled = pa.table({"v": [2.5, 1.25], "k": ["b", "a"]})
    assert verdict("q", _oracle(ROWS), shuffled) is None


def test_wrong_value_or_row_count_fails():
    expect = _oracle(ROWS)
    assert verdict("q", expect, pa.table({"k": ["a", "b"], "v": [1.25, 2.51]})) is not None
    assert verdict("q", expect, ROWS.slice(0, 1)) is not None


def test_recall_below_bar_fails():
    expect = {"kind": "recall", "bar": 0.8, "pairs": [[1, 2], [3, 4], [5, 6], [7, 8], [9, 10]]}
    four = pa.table({"id_a": [1, 3, 5, 7, 11], "id_b": [2, 4, 6, 8, 12]})
    three = pa.table({"id_a": [1, 3, 5], "id_b": [2, 4, 6]})
    assert verdict("d03_minhash", expect, four) is None
    assert "recall 0.600" in verdict("d03_minhash", expect, three)


def _etl_out(path, regions):
    n = len(regions)
    pq.write_table(pa.table({
        "Transaction_ID": [f"TRX-{i}" for i in range(n)], "Quantity": [1] * n,
        "Total_Price": [10] * n, "Region": regions, "Status_1": ["Paid"] * n,
        "Status_2": ["R"] * n, "Date": pa.array([19723] * n, pa.date32()), "p_size": [3] * n,
    }), f"{path}/part-0.parquet")


def test_etl_checksum_mismatch_fails(tmp_path):
    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    _etl_out(good, ["Jakarta", "Unknown"])
    _etl_out(bad, ["Jkt", "Unknown"])  # the replace step did not run
    expect = {"kind": "etl", "aggregates": etl_aggregates(str(good))}
    assert verdict("etl_load", expect, str(good)) is None
    assert "n_jkt" in verdict("etl_load", expect, str(bad))


def test_etl_wrong_count_or_schema_fails():
    assert verdict("etl_readback", {"kind": "count", "rows": 2}, 2) is None
    assert "read back 3" in verdict("etl_readback", {"kind": "count", "rows": 2}, 3)
    from pyspark.sql import types as T

    good = T.StructType([T.StructField(n, {"string": T.StringType(), "date": T.DateType(),
                                           "int": T.IntegerType()}[t]) for n, t in SALES_SCHEMA])
    assert verdict("etl_extract", {"kind": "schema", "fields": SALES_SCHEMA}, good) is None
    all_strings = T.StructType([T.StructField(n, T.StringType()) for n, _ in SALES_SCHEMA])
    assert "inferred schema" in verdict("etl_extract", {"kind": "schema", "fields": SALES_SCHEMA}, all_strings)


def test_tally_counts_wrong_results_and_raises():
    records = [
        {"op": "q05", "error": None},
        {"op": "q05", "error": "rows differ from the oracle"},
        {"op": "d02", "error": "RuntimeError: boom"},
        {"op": "d02", "error": None},
    ]
    assert tally(records) == (4, 2, {"q05": "rows differ from the oracle", "d02": "RuntimeError: boom"})
