"""Projection operators: parse, derive, prune, flatten.

Parity map (SURVEY.md §2.2): P1/P2 json parse -> :func:`parse_json_column`;
P4 pruning -> :func:`prune`; P6 duration derivation -> :func:`derive_duration_minutes`;
P11 rounding -> plain ``F.round``; P13 window flattening lives in
:func:`~stream_processing_pipeline_spark.functions.windows.flatten_window`.

Everything is built-in Column expressions — single Project nodes that Catalyst
collapses and runs inside whole-stage codegen; nothing here adds a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

__all__ = [
    "parse_json_column",
    "prune",
    "derive_duration_minutes",
    "minutes_since_midnight",
]


def parse_json_column(
    df: DataFrame, col: str, schema: StructType | DataType, flatten: bool = True
) -> DataFrame:
    """Parse a JSON string column into typed fields (reference P2).

    With ``flatten=True`` the struct is star-expanded alongside the other
    columns (the parsed struct replaces the raw string column).
    """
    parsed = df.withColumn(f"__parsed_{col}", F.from_json(F.col(col), schema))
    if not flatten:
        return parsed.withColumnRenamed(f"__parsed_{col}", f"{col}_parsed")
    others = [c for c in df.columns if c != col]
    return parsed.select(*others, f"__parsed_{col}.*")


def prune(df: DataFrame, *cols: str) -> DataFrame:
    """Explicit column pruning (reference P4). Catalyst prunes automatically;
    an explicit narrow projection still pays off in streaming state size and
    plan readability."""
    return df.select(*cols)


def _epoch_seconds(c: Column) -> Column:
    # TIMESTAMP_NTZ has no direct long cast; under the UTC session tz the
    # ntz->ltz cast is an identity on the wall-clock instant.
    return c.cast("timestamp").cast("long")


def derive_duration_minutes(
    df: DataFrame, start_col: str, end_col: str, out: str = "duration_minutes"
) -> DataFrame:
    """Minutes between two timestamps via epoch arithmetic (reference P6:
    ``(dropoff.cast long - pickup.cast long)/60``,
    ``/root/reference/src/spark_streaming.py:158-161``)."""
    dur = (_epoch_seconds(F.col(end_col)) - _epoch_seconds(F.col(start_col))) / 60
    return df.withColumn(out, dur)


def minutes_since_midnight(ts: Column | str) -> Column:
    """Event-local minutes-since-midnight — the fixture analog of trip
    duration (epoch arithmetic against the day boundary)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (_epoch_seconds(c) - _epoch_seconds(F.date_trunc("day", c))) / 60
