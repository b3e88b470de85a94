"""``batch_queries``: a seeded, cost-stratified draw of registered queries.

Closed loop, one client. The query set is a cost-stratified draw from the
fixed pool in ``query_pool.json``: the whole pool is sorted by calibrated
cost and cut into ``STRATA`` strata, and one query is drawn from each, so
the dearest stratum is always in. Only queries whose oracle check takes
longer than ``MAX_CHECK_S`` are left out, since every run's warm-up checks
each drawn query. The draw itself is fixed (``DRAW_SEED``): a
seed-dependent set moved the figures between seeds by more than any usable
bound, since calibrated costs predict a query's time only to within about
40%. The run's seed orders the set and generates the tables.

Warm-up runs the draw once at ``WARM_SF``, checking every result against
its registry oracle. The timed phase runs ``seconds // PASS_S`` passes of
the draw at ``TIMED_SF`` into the noop sink, each query timed from builder
call through noop write. An untimed pass at ``TIMED_SF`` before it was
tried and left out: it added 12-16 s of set-up, and in a four-seed A/B
the timed pass was no faster or steadier for it.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

import gen
import host
import spark_env
import spans
from stats import geomean, percentile

WARM_SF = 0.001
TIMED_SF = 0.01
STRATA = 8
DRAW_SEED = 0
# Leaves out the two BPE queries, whose pure-Python oracles take 36 s and
# 151 s at the warm-up scale; every other check takes at most 12 s.
MAX_CHECK_S = 30
# A pass takes about this long on a 4-core host; a run makes
# ``seconds // PASS_S`` passes (at least one), a count fixed by the run
# length alone, because later passes run faster on a warmer JVM.
PASS_S = 13
POOL_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_pool.json")


def draw(pool: dict[str, dict]) -> list[str]:
    """The cost-stratified draw, cheapest stratum first."""
    rng = random.Random(f"batch_queries:{DRAW_SEED}")
    ranked = sorted((info["cost_s"], name) for name, info in pool.items()
                    if info["check_s"] <= MAX_CHECK_S)
    n = len(ranked)
    return [rng.choice(ranked[i * n // STRATA:(i + 1) * n // STRATA])[1] for i in range(STRATA)]


def queries(seed: int, pool: dict[str, dict]) -> list[str]:
    """The fixed draw, in the order ``seed`` gives it."""
    names = draw(pool)
    random.Random(f"batch_order:{seed}").shuffle(names)
    return names


def load_pool() -> dict[str, dict]:
    with open(POOL_PATH) as fh:
        return json.load(fh)["pool"]


def _run_query(spark, tracer: spans.Tracer, name: str, fn, sf_dir: str) -> dict[str, float]:
    """Build and run one query into the noop sink; traced, also return its
    Catalyst phase times."""
    with tracer.trace(name):
        with tracer.job_group(spark, f"build:{name}"), tracer.span("plans.build", "plans"):
            df = fn(spark, sf_dir)
        phases = spans.query_phases_ms(df) if tracer.enabled else {}
        with tracer.job_group(spark, f"run:{name}"), tracer.span("operators.run", "operators"):
            df.write.format("noop").mode("overwrite").save()
    return phases


def run(seed: int, seconds: float, traced: bool) -> dict:
    from stream_processing_pipeline_spark.plans import REGISTRY
    from stream_processing_pipeline_spark.plans.common import catalog
    from tests.oracle_harness import check_query

    t_setup = time.perf_counter()
    event_log = spark_env.work_dir("batch_eventlog") if traced else None
    spark = spark_env.start_session(event_log)
    session_s = time.perf_counter() - t_setup
    jvm = spark_env.jvm_pid(spark)
    result: dict = {}
    try:
        names = queries(seed, {n: q for n, q in load_pool().items() if n in REGISTRY})
        warm_dir = spark_env.work_dir(f"batch_s{seed}", "warm")
        timed_dir = spark_env.work_dir(f"batch_s{seed}", "timed")
        gen.write_tables(warm_dir, WARM_SF, seed)
        gen.write_tables(timed_dir, TIMED_SF, seed)

        t_cat = time.perf_counter()
        for d in (warm_dir, timed_dir):
            catalog(spark, d).register_all()
        catalog_s = time.perf_counter() - t_cat

        # Warm-up doubles as the output check: each drawn query vs its oracle.
        t_warm = time.perf_counter()
        failures: list[str] = []
        for name in names:
            try:
                problems = check_query(spark, name, warm_dir)
            except Exception as e:  # a failing query counts, the run goes on
                problems = [f"{type(e).__name__}: {e}"[:200]]
            finally:
                spark.catalog.clearCache()
            failures += [f"check {name}: {p}"[:300] for p in problems]
        warmup_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        passes = max(1, int(seconds // PASS_S))

        def timed_phase(tracer: spans.Tracer):
            samples: dict[str, list[float]] = {n: [] for n in names}
            phases: dict[str, float] = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
            t0 = time.perf_counter()
            for _ in range(passes):
                for name in names:
                    t_q = time.perf_counter()
                    try:
                        got = _run_query(spark, tracer, name, REGISTRY[name].fn, timed_dir)
                        samples[name].append(time.perf_counter() - t_q)
                        for k, v in got.items():
                            phases[k] += v
                    except Exception as e:  # counted as a failed operation
                        failures.append(f"run {name}: {type(e).__name__}: {e}"[:300])
                    finally:
                        spark.catalog.clearCache()
            return samples, time.perf_counter() - t0, phases

        cpu0, stat0 = host.tree_cpu_s(), host.cpu_counters()
        samples, wall, _ = timed_phase(spans.Tracer(enabled=False))
        cpu_s = (host.tree_cpu_s() - cpu0) / passes
        steal = host.steal_pct(stat0, host.cpu_counters())

        per_query = {n: statistics.median(v) for n, v in samples.items() if v}
        flat = [x for v in samples.values() for x in v]
        result.update(
            attempted=len(names) * (passes + 1),
            failed=len(failures),
            correct=not failures,
            metrics={
                "setup_s": (setup_s, "s"),
                "cpu_s": (cpu_s, "s"),
                "events_per_s": (len(flat) / wall, "1/s"),
                "latency_p50_ms": (percentile(flat, 50) * 1000, "ms"),
                "latency_p90_ms": (percentile(flat, 90) * 1000, "ms"),
                "suite_s": (sum(per_query.values()), "s"),
                "query_geomean_s": (geomean(list(per_query.values())), "s"),
            },
            details={
                "queries": names,
                "per_query_s": per_query,
                "passes": passes,
                "steal_pct": steal,
                "session_s": session_s,
                "catalog_s": catalog_s,
                "warmup_s": warmup_s,
                "failures": failures[:20],
            },
        )
        if traced:
            tracer = spans.Tracer(enabled=True)
            tracer.patch_plan_modules()
            try:
                t_samples, _, phases = timed_phase(tracer)
            finally:
                tracer.uninstall()
            t_suite = sum(statistics.median(v) for v in t_samples.values() if v)
            layers = {
                "session.start_s": session_s,
                "session.warmup_s": warmup_s,
                "session.jvm_peak_rss_mb": host.peak_rss_mb(jvm),
                "sources.catalog_s": catalog_s,
                "plans.build_s": sum(s.end - s.start for s in tracer.spans
                                     if s.name == "plans.build") / passes,
                "plans.analysis_ms": phases["analysis"] / passes,
                "plans.optimization_ms": phases["optimization"] / passes,
                "plans.planning_ms": phases["planning"] / passes,
            }
            run_s = sum(s.end - s.start for s in tracer.spans if s.name == "operators.run")
            result["pending"] = (tracer, layers, run_s, passes,
                                 ("suite_s", result["metrics"]["suite_s"][0], t_suite))
        return result
    finally:
        pending = result.pop("pending", None)
        spark_env.stop_session(spark)
        if pending is not None:
            tracer, layers, run_s, passes, overhead = pending
            groups, jobs = spans.parse_event_log(event_log)
            ops = spans.operator_metrics(groups, lambda g: g.startswith("run:"), run_s)
            layers.update({k: v / passes if k != "operators.cpu_share" else v
                           for k, v in ops.items()})
            layers["plans.build_jobs"] = sum(
                v for g, v in jobs.items() if g.startswith("build:")
            ) / passes
            result["layers"] = layers
            print(spans.layer_table("batch_queries", tracer.spans, overhead), file=sys.stderr)
