"""Independent check of the query workloads: each registered query's
rows against its `oracle_sql` run by DuckDB over the same parquet.

The comparison is the engine's own parity gate (plans/oracle_check.py),
imported rather than restated: columns by name, row count, and an
order-insensitive multiset of canonicalised rows (floats by repr, so
only identical doubles agree). Only the per-directory DuckDB views and
the reporting live here.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb

from ds_caselaw_ingester_spark.plans.oracle_check import _rows_to_multiset


def oracle_rows(data_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()
    finally:
        con.close()


def compare(
    cols: list[str], rows: list[tuple], o_cols: list[str], o_rows: list[tuple]
) -> str | None:
    """None when the two results agree, else what differs."""
    if sorted(cols) != sorted(o_cols):
        return f"columns differ: {sorted(cols)} vs oracle {sorted(o_cols)}"
    if len(rows) != len(o_rows):
        return f"row count {len(rows)} vs oracle {len(o_rows)}"
    a = Counter(_rows_to_multiset(cols, rows))
    b = Counter(_rows_to_multiset(o_cols, o_rows))
    if a != b:
        n = sum((a - b).values())
        return f"{n} of {len(rows)} rows differ, e.g. {next(iter(a - b))}"
    return None
