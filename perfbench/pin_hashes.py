"""Pin the expected output of every benchmark query from its DuckDB oracle.

Usage: python3 perfbench/pin_hashes.py

Runs ``registry.ORACLES[name]`` on the benchmark's own copies of the tables
(``perfbench/data/<scale>``) and writes ``perfbench/expected.json`` as
``{scale: {name: [rows, hash, sorted columns]}}``, hashed with the parity
gate's strict, pandas-path canon. The benchmark compares Spark results with
these pins, so no run needs DuckDB. Re-run only when the tables, an oracle or
a workload list changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__  # noqa: F401  (populates the registry)
    from etl_jlp_spark import registry
    from tools import parity

    parity.STRICT = True
    names = [n for ns in workloads.QUERY_WORKLOADS.values() for n in ns]
    workloads.check_registry(registry, names)
    threads = len(os.sched_getaffinity(0))
    pinned: dict[str, dict] = {}
    for scale in workloads.SCALES:
        sf_dir = workloads.data_dir(scale)
        con = duckdb.connect(config={"threads": threads})
        for t in sorted(os.listdir(sf_dir)):
            view = t.removesuffix(".parquet")
            con.sql(f"CREATE VIEW {view} AS SELECT * FROM '{os.path.join(sf_dir, t)}'")
        pinned[scale] = {}
        for name in names:
            cols, rows = parity.fetch_oracle_pandas(con.sql(registry.ORACLES[name]))
            n, digest = parity.table_hash(cols, rows)
            pinned[scale][name] = [n, digest, sorted(cols)]
            print(f"{scale} {name}: {n} rows {digest}", flush=True)
        con.close()
    with open(workloads.EXPECTED_PATH, "w", encoding="utf-8") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
