"""Regenerate perfbench/digests.json: the order-insensitive digest of each
benchmarked query's output, computed by running the query's DuckDB oracle
SQL over the benchmark fixture.  Run from the repository root after the
fixture or a query's oracle changes:

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from flink_estimator_spark.plans import QUERIES  # noqa: E402
from flink_estimator_spark.sources import TABLES  # noqa: E402
from perfbench import measure  # noqa: E402
from perfbench.catalog import PLANE_B  # noqa: E402

FIXTURE = os.path.join(HERE, "fixture", "sf0.01")


def main() -> int:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(FIXTURE, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for q in PLANE_B:
        sql = QUERIES[q].oracle
        if sql is None:
            raise SystemExit(f"{q} has no oracle SQL")
        out[q] = measure.digest_arrow(con.execute(sql).arrow())
    con.close()
    with open(os.path.join(HERE, "digests.json"), "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(out)} digests written")
    return 0


if __name__ == "__main__":
    sys.exit(main())
