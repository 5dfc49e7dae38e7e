"""Seeded benchmark input: a TPC-H-shaped `lineitem` feed, the source the
program's bronze synthesis (`PipelineQueries.bronzeFromLineitem`) reads.

Only the columns the program reads are written. The same seed always
gives byte-identical parquet files.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = datetime.date(1995, 1, 2)


def generate(out_dir, seed, rows, days):
    """Write `out_dir/lineitem.parquet`: `rows` line items shipped over
    `days` days from FIRST_DAY."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ship = np.datetime64(FIRST_DAY) + rng.integers(0, days, rows)
    table = pa.table({
        "l_orderkey": np.arange(rows, dtype=np.int64) // 4,
        "l_partkey": rng.integers(1, 20000, rows, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1000, rows, dtype=np.int64),
        "l_linenumber": (np.arange(rows) % 4 + 1
                         + rng.integers(0, 4, rows)).astype(np.int32),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
