"""Simulate the external driver gate locally (see Usage below).

Builds a PLAIN SparkSession (no engine configs — exactly like the external
harness), imports ``__spark_entry__``, smoke-runs ``entry()``, then runs each
registered query against its DuckDB oracle at sf0.01 and prints a per-query
verdict in registration order (the order the gate evaluates).

Usage:
    python tools/driver_sim.py              # all queries
    python tools/driver_sim.py 20           # first N (the gate prefix)
    python tools/driver_sim.py q1,q2,...    # named subset
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from tests.oracle_harness import (
        compare_arrow_types,
        compare_frames,
        run_oracle,
        run_oracle_arrow,
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )

    rows = E.entry(spark).collect()
    print(f"entry(): {len(rows)} rows OK")

    queries = E.queries()
    oracles = E.oracle_sql()
    names = list(queries)
    if len(sys.argv) > 1:
        arg = sys.argv[1]
        names = names[: int(arg)] if arg.isdigit() else [
            n for n in arg.split(",") if n in queries
        ]

    failures: dict[str, str] = {}
    for i, name in enumerate(names, 1):
        t0 = time.time()
        try:
            df = queries[name](spark, SF_DIR)
            pdf = df.toPandas()
            if name in oracles:
                otbl = run_oracle_arrow(oracles[name], SF_DIR)
                problems = compare_arrow_types(df.schema, otbl.schema)
                problems += compare_frames(pdf, run_oracle(oracles[name], SF_DIR))
                status = "MATCH" if not problems else "; ".join(problems)
            else:
                status = f"rows-only ({len(pdf)} rows)"
            if "MATCH" not in status and "rows-only" not in status:
                failures[name] = status
        except Exception as e:  # noqa: BLE001 — gate records per-query errors
            status = f"ERROR {type(e).__name__}: {e}"
            failures[name] = status
        print(f"{i:3d} {name:36s} {time.time() - t0:5.1f}s  {status[:120]}")

    print(json.dumps({"n": len(names), "failures": failures}))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
