"""The generator is a pure function of (seed, scale)."""

import os

import pyarrow.csv as pacsv
import pyarrow.parquet as pq

from gen import TABLES, Scale, generate

SMALL = Scale(orders=600, events=500, documents=120, embeddings=40, sales=1_000)


def _bytes(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def _rows(d):
    rows = {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in TABLES}
    rows["sales"] = pacsv.read_csv(os.path.join(d, "sales.csv")).num_rows
    return rows


def test_same_seed_same_bytes(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    assert generate(a, 7, SMALL) == generate(b, 7, SMALL)
    assert _bytes(a) == _bytes(b)


def test_other_seed_other_bytes_same_shape(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    generate(a, 7, SMALL)
    generate(b, 8, SMALL)
    ba, bb = _bytes(a), _bytes(b)
    # region and nation are fixed dimension tables; everything drawn differs
    assert [n for n in ba if ba[n] == bb[n]] == ["nation.parquet", "region.parquet"]
    assert _rows(a) == _rows(b)
    for t in TABLES:
        assert pq.read_schema(os.path.join(a, f"{t}.parquet")) == pq.read_schema(os.path.join(b, f"{t}.parquet"))


def test_sales_sheet_is_dirty(tmp_path):
    d = str(tmp_path / "a")
    generate(d, 3, SMALL)
    opts = pacsv.ConvertOptions(strings_can_be_null=True)
    t = pacsv.read_csv(os.path.join(d, "sales.csv"), convert_options=opts).to_pydict()
    assert None in t["Quantity"]
    assert None in t["Region"]
    assert "Jkt" in t["Region"] and "Jakarta" in t["Region"]
    assert len(set(t["Transaction_ID"])) == SMALL.sales - SMALL.sales // 50
    assert all("/" in s for s in t["Status"])
