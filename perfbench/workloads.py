"""Workload definitions: the inputs each workload generates, the ops one
pass runs in order, and how many passes a run makes.

Every op name but the three ``etl_*`` steps is a builder in
``etlbigdata_spark.workload.QUERIES``.  The ``etl_*`` steps are the
reference workbench's Extract -> Transform -> Load clicks, defined in
``run.py``: ``etl_extract`` reads the sales CSV with schema inference,
``etl_load`` cleans it with ``ETL_STEPS`` and writes parquet, and
``etl_readback`` counts what was written.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Scale

ETL_EXTRACT, ETL_LOAD, ETL_READBACK = "etl_extract", "etl_load", "etl_readback"
ETL_OPS = (ETL_EXTRACT, ETL_LOAD, ETL_READBACK)

# The reference's click sequence as one declarative plan: fill NULLs,
# drop duplicate rows, unify the Jkt spelling, split the R/F status
# suffix off, type the date, drop cancelled sales, join the product
# dimension.
ETL_STEPS = [
    {"op": "fill_nulls", "text_fill": "Unknown", "numeric_fill": 0},
    {"op": "dedup"},
    {"op": "replace_value", "column": "Region", "old": "Jkt", "new": "Jakarta"},
    {"op": "split_column", "column": "Status", "delimiter": "/", "n_parts": 2},
    {"op": "cast_column", "column": "Date", "type_name": "date"},
    {"op": "filter", "expr": "Status_1 <> 'Cancelled'"},
    {"op": "join", "right": "part", "left_on": "Product_ID", "right_on": "p_partkey"},
]

# enough that even the three-op workload leaves ten samples above op_tail_s
MIN_MEASURED_PASSES = 4


@dataclass(frozen=True)
class Workload:
    name: str
    scale: Scale
    ops: tuple[str, ...]
    tables: tuple[str, ...]
    # warm pass time on a quiet 4-core box; it turns --seconds into a
    # fixed number of measured passes before the run starts
    nominal_pass_s: float
    # passes after the cold one that are run but not measured, so that the
    # measured passes start at the same point of the JIT warm-up in every run
    warmup_passes: int

    def measured_passes(self, seconds: float) -> int:
        return max(MIN_MEASURED_PASSES, round(seconds / self.nominal_pass_s))


def family(op: str) -> str:
    """The package layer whose code does an op's work."""
    if op in ETL_OPS:
        return "sources"
    if op.startswith("st"):
        return "streaming"
    if op[0] in "tds":
        return "functions"
    return "operators"


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="workbench_small",
            scale=Scale(orders=3_000, events=3_000, documents=400, embeddings=200, sales=20_000),
            ops=(
                "q06_revenue_delta", "q18_large_orders", "b06_grouping_sets", "t01_text_stats",
                "d01_dup_groups", "st05_stream_replay",
            ),
            tables=("customer", "orders", "lineitem", "events", "documents"),
            nominal_pass_s=0.95,
            # its passes get faster until about the tenth, steeply over
            # the first six
            warmup_passes=6,
        ),
        Workload(
            name="etl_roundtrip",
            scale=Scale(orders=3_000, events=100, documents=40, embeddings=20, sales=150_000),
            ops=ETL_OPS,
            tables=("part",),
            nominal_pass_s=0.72,
            # its passes level off after about three
            warmup_passes=4,
        ),
    )
}
