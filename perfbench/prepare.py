"""Generate a workload's inputs and DuckDB's expected results.

Runs as its own process so neither the generator's nor DuckDB's memory
lands in the measured process's peak RSS:

    python3 perfbench/prepare.py --workload NAME --seed N --out DIR

Writes the inputs under ``DIR/data`` and ``DIR/expect.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from gen import generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    data = os.path.join(args.out, "data")
    t0 = time.perf_counter()
    sizes = generate(data, args.seed, w.scale)
    gen_s = time.perf_counter() - t0

    import duckdb

    from checks import expected
    from etlbigdata_spark.benchutil import register_duck_views

    con = duckdb.connect()
    register_duck_views(con, data)
    t0 = time.perf_counter()
    expect = expected(con, w.ops, data)
    con.close()
    with open(os.path.join(args.out, "expect.json"), "w") as f:
        json.dump({
            "input_bytes": sizes,
            "gen_s": gen_s,
            "oracle_s": time.perf_counter() - t0,
            "duckdb_version": duckdb.__version__,
            "ops": expect,
        }, f)


if __name__ == "__main__":
    main()
