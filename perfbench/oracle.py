"""Derive ``expected.json``, the batch workload's output check, from
each query's DuckDB oracle over ``data/sf0.01``.

The oracle pass is far too slow to run inside every benchmark run, so
it runs once, here, and its row counts and canonical hashes
(``tools/check.py``'s ``table_hash``) are stored next to the data::

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import duckdb  # noqa: E402

from cga_logs_to_kinesis_spark.registry import all_queries  # noqa: E402
from cga_logs_to_kinesis_spark.schema import FIXTURE_TABLES  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    BATCH_SF_DIR,
    HERE,
    ITERATIVE,
    ONEPLAN,
    load_table_hash,
)


def main() -> int:
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        if not os.path.exists(f"{BATCH_SF_DIR}/{t}.parquet"):
            continue    # only the tables the batch queries read are kept
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{BATCH_SF_DIR}/{t}.parquet')")
    table_hash = load_table_hash()
    specs = all_queries()
    expected = {}
    for name in ITERATIVE + ONEPLAN:
        # Through pandas, as tools/check.py does, so integer SUMs are
        # typed (and hashed) the same way there and here.
        pdf = con.execute(specs[name].oracle).df()
        rows = [tuple(r) for r in pdf.itertuples(index=False, name=None)]
        expected[name] = {"rows": len(rows),
                          "hash": table_hash(rows, list(pdf.columns))}
        print(name, expected[name])
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
