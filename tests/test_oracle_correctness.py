"""Every registered query must match its DuckDB oracle at sf0.01 —
the local mirror of the driver's t2 gate."""

from __future__ import annotations

import pytest

from stream_processing_pipeline_spark.plans import REGISTRY

from .conftest import SF_MED
from .oracle_harness import check_query


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, name):
    problems = check_query(spark, name, SF_MED)
    assert not problems, f"{name}: " + "; ".join(problems)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_returns_rows(spark, name):
    df = REGISTRY[name].fn(spark, SF_MED)
    assert df.count() >= 0


def test_mirror_catches_decimal_vs_int64(spark):
    """Regression for the r2 `mm_format_stats` driver hash-FAIL.

    DuckDB returns `sum(BIGINT)` as DECIMAL(38,0); the driver's value-hash is
    type-sensitive, so an oracle `sum(x)` against a Spark `F.sum` (int64)
    fails the gate even when every value matches. The pandas path masked this
    (`.df()` coerces DECIMAL(38,0) → float64); the arrow-level check must not.
    """
    import duckdb

    from .oracle_harness import compare_arrow_types

    uncast = duckdb.sql("SELECT sum(x) AS total FROM (VALUES (1), (2)) t(x)")
    spark_schema = spark.createDataFrame([(3,)], "total long").schema

    problems = compare_arrow_types(spark_schema, uncast.fetch_arrow_table().schema)
    assert problems and "decimal" in problems[0], problems

    cast = duckdb.sql(
        "SELECT CAST(sum(x) AS BIGINT) AS total FROM (VALUES (1), (2)) t(x)"
    )
    assert not compare_arrow_types(spark_schema, cast.fetch_arrow_table().schema)


def test_raw_sql_views_rebind_across_scale_factors(spark):
    """Regression (r5): temp views are session-global but catalogs are
    per-(session, sf_dir), so accessing another SF's catalog rebinds the
    view names; a raw-SQL query that then runs at the original SF must
    NOT read the other SF's data. register_all() re-registers
    unconditionally, so after deliberately poisoning the session with the
    sf0.001 views, every raw-SQL query still matches its oracle at
    sf0.01."""
    from stream_processing_pipeline_spark.plans.common import catalog

    from .conftest import SF_SMALL
    from .oracle_harness import check_query

    catalog(spark, SF_MED).events.count()    # cache SF_MED tables
    catalog(spark, SF_SMALL).events.count()  # poison: views -> sf0.001
    for name in (
        "sql_pipe_heavy_purchasers",
        "sql_recursive_click_streak",
        "sql_api_revenue_summary",
        "sql_lateral_top_orders",
        "grouping_sets_revenue",
        "sql_groupby_all_daily_mix",
    ):
        problems = check_query(spark, name, SF_MED)
        assert not problems, f"{name}: " + "; ".join(problems)
