"""Rebuild ``query_pool.json``, the fixed pool ``batch_queries`` draws from.

For every registered query this runs, on tables generated with ``SEED``:
the oracle check at the warm-up scale (the check the benchmark makes) and
one timed noop write at the timed scale. A query enters the pool only if
its check passed; its recorded cost (the noop write) places it in a cost
stratum, so the draw mixes cheap and dear queries in fixed proportions,
and its check time says what it adds to the benchmark's warm-up.

The pool is part of the benchmark definition: a parent commit and a change
are measured on the same pool. Run from the repository root:

    python3 perfbench/calibrate.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import batch  # noqa: E402
import gen  # noqa: E402
import spark_env  # noqa: E402

SEED = 1


def main() -> None:
    from stream_processing_pipeline_spark.plans import REGISTRY
    from tests.oracle_harness import check_query

    spark = spark_env.start_session()
    names = sorted(REGISTRY)
    small = spark_env.work_dir("calibrate", "warm")
    big = spark_env.work_dir("calibrate", "timed")
    gen.write_tables(small, batch.WARM_SF, SEED)
    gen.write_tables(big, batch.TIMED_SF, SEED)
    pool: dict[str, dict] = {}
    bad: dict[str, str] = {}
    for name in names:
        print(f"calibrate: {time.strftime('%H:%M:%S')} {name}", file=sys.stderr, flush=True)
        try:
            t0 = time.perf_counter()
            problems = check_query(spark, name, small)
            t1 = time.perf_counter()
            REGISTRY[name].fn(spark, big).write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception as e:  # a failing query leaves the pool
            problems = [f"{type(e).__name__}: {e}"[:200]]
        finally:
            spark.catalog.clearCache()
        if problems:
            bad[name] = "; ".join(problems)[:300]
        else:
            pool[name] = {"cost_s": round(t2 - t1, 3), "check_s": round(t1 - t0, 3)}
    shutil.rmtree(spark_env.work_dir("calibrate"), ignore_errors=True)
    out = {
        "timed_sf": batch.TIMED_SF,
        "warm_sf": batch.WARM_SF,
        "seed": SEED,
        "pool": pool,
        "excluded": bad,
    }
    with open(os.path.join(HERE, "query_pool.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark_env.stop_session(spark)
    print(json.dumps({"pool": len(pool), "excluded": len(bad)}))


if __name__ == "__main__":
    main()
