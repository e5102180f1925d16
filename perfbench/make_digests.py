"""Regenerate ``digests.json``: one golden digest per registry entry,
computed from the DuckDB oracle rows over the benchmark's input tables.

The digests come from the oracle only, never from Spark's output, so an
entry whose Spark result disagrees with its oracle fails the benchmark's
check instead of being recorded as golden.

Usage: python3 perfbench/make_digests.py [entry ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

DATA_DIR = os.path.join(HERE, "data", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")


def main() -> None:
    import duckdb

    from digest import digest
    from pygrametl_spark.catalog import TPCH_TABLES
    from pygrametl_spark.queries import ORACLES

    only = sys.argv[1:]
    con = duckdb.connect(config={"threads": 2})
    for t in TPCH_TABLES:
        path = os.path.join(DATA_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")

    out = {}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            out = json.load(fh)["entries"]
    for name, sql in ORACLES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        out[name] = {"digest": digest(cols, rows), "rows": len(rows)}
        print(f"{name}: {len(rows)} rows, {time.time() - t0:.1f}s", flush=True)

    with open(DIGESTS, "w") as fh:
        json.dump(
            {"data": "data/sf0.01", "source": "DuckDB oracle (ORACLES)", "entries": out},
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")


if __name__ == "__main__":
    main()
