"""Named-table catalog over a directory of parquet files.

Loads the driver's synthetic star schema (TESTDATA.md: ``region nation
customer supplier part orders lineitem events documents embeddings``) and
registers each table as a temp view so both the DataFrame API and
``spark.sql`` can reach them — the engine analog of the reference registering
its static lookup table (``/root/reference/src/spark_streaming.py:302-304``).

Type normalization: the ``events`` fixture stores ``ts`` as parquet
nanosecond timestamps, which Spark reads as int64 nanos under
``spark.sql.legacy.parquet.nanosAsLong`` (Spark's TimestampType is
microseconds). The catalog converts ns-longs to timestamps by integer
division — truncation toward minus infinity for positive values, exactly what
DuckDB does when narrowing ns -> us — so event-time semantics agree with the
oracle engine bit-for-bit.

Scale: parquet scans here keep column pruning and predicate pushdown intact
(the conversion is a Project on top of the scan, and Catalyst pushes filters
on other columns beneath it). At 100 TB these tables would be
partition-pruned by directory layout; the catalog accepts any directory, so a
partitioned lake path drops in unchanged.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from .. import TABLES

_T = TypeVar("_T")

__all__ = [
    "TableCatalog",
    "UNIQUE_KEYS",
    "UNIQUE_KEY_ALIASES",
    "UNIQUE_KEY_COLUMNS",
]

#: catalog-declared single-column unique keys per table.
#: These are the engine's PRIMARY-KEY contracts: an inner equi-join whose
#: key set is drawn from these columns cannot multiply a bounded side's
#: cardinality (each bounded row matches <= 1 row of the unique side), which
#: is what lets the plan audit (audit.py) treat such joins as bounded.
#: Deliberately ABSENT: lineitem (its key is the COMPOSITE (l_orderkey,
#: l_linenumber); l_orderkey alone is ~7-to-1) and every derived grain
#: (term, shingle/band/chunk hashes) — joins on those are many-to-many and
#: must read as unbounded.
UNIQUE_KEYS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

#: engine-convention RENAMES that carry the same uniqueness contract as the
#: column they alias. ``query_id`` is the similarity family's rename of
#: ``vec_id`` for the declared query workload (the plan audit already
#: recognizes ``query_id < <literal>`` as the bounded-workload filter) —
#: one query vector per query_id, so joins on it cannot multiply. Keep this
#: list SHORT and literal: every entry widens what the audit accepts.
UNIQUE_KEY_ALIASES: frozenset[str] = frozenset({"query_id"})

#: the set of column names that carry a uniqueness contract
UNIQUE_KEY_COLUMNS: frozenset[str] = (
    frozenset(UNIQUE_KEYS.values()) | UNIQUE_KEY_ALIASES
)


class TableCatalog:
    """Lazily-loaded named tables over ``<root>/<name>.parquet``, and the
    owner of what plans derive from them.

    Anything computed from the fixture once and reused — the loaded tables,
    trained centroids and codebooks, bucketed or partitioned layout copies —
    goes through :meth:`memo`, so it is built at most once per catalog.
    Files such artifacts write go under :meth:`work_dir`, which is removed
    when the catalog is released (for ``plans.common.catalog``'s
    per-(session, fixture) catalogs: at interpreter exit)."""

    def __init__(self, spark: SparkSession, root: str, register_views: bool = True):
        self.spark = spark
        self.root = root
        self.register_views = register_views
        self._memo: dict[Hashable, object] = {}
        self._work_dir: str | None = None

    def memo(self, key: Hashable, build: Callable[[], _T]) -> _T:
        """``build()``, called once per ``key`` for this catalog's life."""
        if key not in self._memo:
            self._memo[key] = build()
        return self._memo[key]

    def work_dir(self) -> str:
        """A temp directory for files derived from the fixture, created on
        first use and removed with its contents when the catalog is
        released."""
        if self._work_dir is None:
            self._work_dir = tempfile.mkdtemp(prefix="catalog_")
            weakref.finalize(self, shutil.rmtree, self._work_dir, ignore_errors=True)
        return self._work_dir

    def path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        return self.memo(("table", name), lambda: self._load(name))

    def _load(self, name: str) -> DataFrame:
        path = self.path(name)
        if not os.path.exists(path):
            known = ", ".join(t for t in TABLES if os.path.exists(self.path(t)))
            raise FileNotFoundError(
                f"table {name!r} not found at {path}; tables present in "
                f"{self.root}: [{known}]"
            )
        df = self._normalize(name, self.spark.read.parquet(path))
        if self.register_views:
            df.createOrReplaceTempView(name)
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_all(self) -> None:
        """Bind every table's temp view to THIS catalog's directory.

        Views are session-global while catalogs are per-(session, sf_dir),
        so another catalog may have taken a view name since this catalog
        first loaded the table (``table()`` registers only on first load).
        Raw-SQL queries call this before ``spark.sql``, so it must
        re-register unconditionally — otherwise a cached table's view could
        point at a different scale factor's files."""
        for name in TABLES:
            if os.path.exists(self.path(name)):
                df = self.table(name)
                if self.register_views:
                    df.createOrReplaceTempView(name)

    @staticmethod
    def _normalize(name: str, df: DataFrame) -> DataFrame:
        # ns-timestamp columns surface as LongType under nanosAsLong; convert
        # to microsecond timestamps with DuckDB-identical truncation.
        ts_cols = {"events": ["ts"]}.get(name, [])
        for c in ts_cols:
            if isinstance(df.schema[c].dataType, LongType):
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        # Normalize every timestamp column to TIMESTAMP_NTZ: fixture data is
        # wall-clock (naive), the session tz is pinned UTC, and NTZ round-trips
        # through Arrow as naive timestamps — exactly how the oracle engine
        # (DuckDB TIMESTAMP) represents them.
        for f in df.schema.fields:
            if isinstance(f.dataType, TimestampType):
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
        return df
