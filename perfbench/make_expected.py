"""Regenerate ``expected_sf01.json``: row count and order-insensitive value
hash of each catalog_sf01 query's ``oracle_sql()`` on DuckDB.

    python3 perfbench/make_expected.py

It reads the benchmark's own copy of the sf0.1 tables (``perfbench/data/sf0.1``)
and hashes with ``tools/check_oracle.py``'s canonicalization. Run it from the
repository root.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.catalog import DATA_DIR, QUERIES  # noqa: E402
from tools.check_oracle import hash_rows  # noqa: E402

TABLES = ("customer", "documents", "lineitem", "orders")


def main() -> int:
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA_DIR, t)}.parquet')")
    oracles = entry.oracle_sql()
    out = {}
    for q in QUERIES:
        res = con.execute(oracles[q])
        cols = [d[0] for d in res.description]
        rows = [tuple(r) for r in res.fetchall()]
        out[q] = {"columns": sorted(cols), "rows": len(rows),
                  "hash": hash_rows(cols, rows)}
        print(f"{q}: rows={len(rows)}", file=sys.stderr)
    with open(os.path.join(HERE, "expected_sf01.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
