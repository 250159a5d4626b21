"""Write the DuckDB oracle fingerprints that ``batch_mix`` checks against.

    python3 perfbench/make_oracle.py

Runs each configured query's registered oracle SQL on DuckDB over
``data/<data>/*.parquet`` and writes ``data/<data>.oracle.json``:
row count plus :func:`oracle.fingerprint`. A query whose oracle is
pinned to another scale factor gets a row-count-only entry.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from oracle import fingerprint  # noqa: E402
from tests.oracle_harness import duckdb_con  # noqa: E402


def main() -> int:
    with open(os.path.join(HERE, "config.json"), encoding="utf-8") as fh:
        cfg = json.load(fh)["workloads"]["batch_mix"]
    from cdc_example_spark.queries import all_queries

    registry = all_queries()
    sf_dir = os.path.join(HERE, "data", cfg["data"])
    con = duckdb_con(sf_dir)
    out = {}
    for name in cfg["queries"]:
        q = registry[name]
        rows_only = q.oracle_sf is not None and q.oracle_sf != cfg["data"]
        pdf = con.execute(q.oracle).df()
        out[name] = {"rows": len(pdf), "rows_only": rows_only,
                     "fingerprint": fingerprint(pdf, rows_only)}
    with open(sf_dir + ".oracle.json", "w", encoding="utf-8") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
