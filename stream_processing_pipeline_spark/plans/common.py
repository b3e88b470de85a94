"""Shared helpers for query definitions (Spark side + DuckDB-SQL side)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..sources.registry import TableCatalog

__all__ = ["catalog", "HOUR", "WINDOW_FLATTEN_SQL"]

_CATALOGS: dict[tuple[int, str], TableCatalog] = {}

# Confs the queries depend on, applied to any externally-built session (the
# driver passes its own SparkSession). All are runtime-settable SQL confs.
_REQUIRED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
}


def prepare_session(spark: SparkSession) -> SparkSession:
    for k, v in _REQUIRED_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # non-settable on some builds; defaults still work
            pass
    return spark


def catalog(spark: SparkSession, sf_dir: str) -> TableCatalog:
    """The one catalog per (session, dir): repeated queries share its scans
    and everything plans derive from the fixture (``TableCatalog.memo``)."""
    prepare_session(spark)
    key = (id(spark), sf_dir)
    if key not in _CATALOGS:
        _CATALOGS[key] = TableCatalog(spark, sf_dir)
    return _CATALOGS[key]


# Spark aligns tumbling windows to the epoch, so a 60-minute window over ``ts``
# is exactly DuckDB's date_trunc('hour', ts).
HOUR = "date_trunc('hour', ts)"

# DuckDB twin of functions.windows.flatten_window for a 1-hour window.
WINDOW_FLATTEN_SQL = (
    f"CAST({HOUR} AS DATE) AS date, "
    f"strftime({HOUR}, '%H:%M:%S') AS start_time, "
    f"strftime({HOUR} + INTERVAL 1 HOUR, '%H:%M:%S') AS end_time"
)
