"""Scale utilities: skew salting and bucketed co-located joins.

These exist for the cases AQE doesn't cover: streaming joins (no runtime
re-planning) and repeated batch joins against the same key where paying one
bucketed write eliminates every future shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["salted_join", "write_bucketed", "write_partitioned"]


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed``'s key distribution has heavy hitters.

    The skewed side gets a random salt in [0, n_salts); the small side is
    exploded n_salts times. The join key becomes (key, salt), spreading each
    hot key over ``n_salts`` reducers. Correctness: every (key, salt) pair on
    the skewed side has exactly one match candidate per original small-side
    row, so the join multiplicity is unchanged.

    Use for streaming joins or when AQE's skew splitting is unavailable;
    in plain batch let AQE handle it first.
    """
    salted_left = skewed.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    salted_right = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = salted_left.join(salted_right, [on, "__salt"], how)
    return out.drop("__salt")


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 32,
) -> None:
    """Persist ``df`` at ``path`` as table ``table``, bucketed and sorted
    by ``bucket_col``.

    Two tables bucketed identically on their join key join WITHOUT a
    shuffle (Exchange) on either side — the physical layout carries the
    partitioning. This is the 100 TB answer for dimension-fact joins too big
    to broadcast and repeated often enough to amortize the write. The rows
    are first hash-repartitioned into ``n_buckets`` on the key (repartition
    and bucketing share the Murmur3 hash), so partition i holds exactly
    bucket i: one file per bucket, and the bucketed scan reports sort order
    as well as distribution.
    """
    (
        df.repartition(n_buckets, bucket_col)
        .write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )


def write_partitioned(df: DataFrame, path: str, partition_col: str) -> None:
    """Persist with directory partitioning, one file per partition value.

    At 100 TB this is the other half of the layout story next to bucketing:
    partition directories let the planner prune whole subtrees from the scan
    (``PartitionFilters`` in the plan — zero IO for untouched partitions).
    Date is the canonical partition key for event data; cardinality must
    stay in the thousands (one directory + >=1 file per value)."""
    (
        df.repartition(partition_col)
        .write.partitionBy(partition_col)
        .mode("overwrite")
        .parquet(path)
    )
