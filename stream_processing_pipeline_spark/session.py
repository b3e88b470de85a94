"""SparkSession factory.

Generalizes the reference's hard-coded session builder
(``/root/reference/src/spark_streaming.py:27-35``: appName ``KafkaToPostgres``,
``spark.sql.shuffle.partitions=9``, local warehouse dirs) into a config-driven
factory with scale-appropriate defaults.

Scale notes (the engine targets a 1000-executor cluster over ~100 TB even
though tests run on ``local[32]``):

- AQE is enabled: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion replace hand-tuned partition
  counts at scale.
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly number; on a
  real cluster leave AQE to coalesce from a high initial value (set
  ``shuffle_partitions`` to ~2-3x total cores).
- Timestamps: the session timezone is pinned to UTC so results are
  reproducible across machines and match naive-timestamp oracles (DuckDB).
- ``spark.sql.legacy.parquet.nanosAsLong=true`` lets Spark ingest parquet
  written with nanosecond timestamps (Spark's TimestampType is microseconds);
  the table catalog (:mod:`.sources.registry`) converts ns-longs to proper
  timestamps with the same truncation semantics DuckDB applies.
- Streaming checkpoints on a local master commit through Spark's
  ``FileSystemBasedCheckpointFileManager``. Spark's default FileContext
  manager renames each temp file over its final name via
  ``getFileLinkStatus``, which the local filesystem answers by spawning a
  ``readlink`` process when no native Hadoop library is loaded (pyspark
  ships none): 8 spawns per offset, commit, source-log entry and state
  delta. A cluster master keeps the default, because on HDFS its
  rename-with-overwrite is atomic, where the FileSystem manager keeps the
  old file when it cannot overwrite (SCALING.md "Checkpoint I/O on a local
  master").
- Spark's generated-code cache holds 2,000 classes
  (``spark.sql.codegen.cache.maxEntries``; Spark's default is 100). It is
  least-recently-used, and a streaming trigger plans and generates its
  incremental query again, so a working set above the cache evicts each
  class shortly before its next use and compiles it again. The six-query
  topology needs about 100 classes per drain and the ``batch_queries``
  benchmark's 8-query draw about 177 (4 cores, pyspark 4.1). At 100
  entries a repeated draw compiled 173 classes per pass and a repeated
  drain 49; at 2,000, 11 in three passes and 0. The whole registry needs
  more than 2,000 (3,612 at sf0.001), and a full bench ended with 34 MB
  more Metaspace and code cache than at 100 entries. It is a static conf:
  like ``spark.driver.memory`` it takes effect only when the session
  starts, and ``getOrCreate`` on a running session keeps the value it
  started with (SCALING.md "Generated-code cache").
- Frames a query builder persists for its lazy result have one owner:
  :func:`persist` records each one and :func:`release` unpersists them
  all. Every build through the query registry releases first, so a process
  holds the persisted frames of the last registered build at most.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

__all__ = ["build_session", "default_parallelism", "persist", "release"]

_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_CODEGEN_CACHE_ENTRIES = "2000"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = "stream_processing_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Any ``extra_conf`` entries win over the defaults, so callers can override
    per-job. A streaming ``Topology`` sizes its state partitions itself:
    ``Topology(state_partitions=N)``, or by default
    ``streaming.runner.default_state_partitions``, which never exceeds the
    session's ``spark.sql.shuffle.partitions``.
    """
    cores = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # Size the single local JVM to the machine: Spark's 1g default
        # packs all `cores` executor threads into one tiny heap (32 MB/
        # thread at local[32]) — r8 measured a SortMergeJoin spill-reader
        # OOM at sf0.1 under it. Only effective at JVM launch; getOrCreate
        # on an existing session leaves the running heap untouched.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's default TRUE (r13 measured the
        # alternative): `parallelismFirst=false` + 64m advisory — the guide
        # §2.2 "partitions sized by bytes" move that fixes the sub-second
        # anti-scaling cluster (spec_*/sql_* gained 5-10%) — coalesces
        # SMALL-BYTES/HIGH-CPU post-shuffle stages to ~1 partition and
        # serializes them: full-bench A/B showed text_fingerprints 5.8x,
        # text_lang_id 3.9x, text_quality 3.5x SLOWER (normalized). This
        # corpus's shuffles are KB-sized with regex-heavy reducers, so
        # partition-by-bytes starves compute exactly where partition-by-
        # cores pays; see OPTIMIZATION_r13.md for the full table.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.codegen.cache.maxEntries", _CODEGEN_CACHE_ENTRIES)
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        master = f"local[{cores}]"
        builder = builder.master(master)
    # The same local test as streaming.runner.default_state_partitions.
    if (master or os.environ["SPARK_MASTER"]).startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass",
            _CHECKPOINT_FILE_MANAGER,
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


#: Frames :func:`persist` cached since the last :func:`release`.
_PERSISTED: list[DataFrame] = []


def persist(df: DataFrame) -> DataFrame:
    """Persist *df* and record it for the next :func:`release`.

    For a frame the builder's lazy result still reads after the builder
    returns. A frame whose plan is already cached (by the caller, say) is
    returned unrecorded: releasing it would drop the caller's cache.
    """
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist()
    _PERSISTED.append(df)
    return df


def release() -> None:
    """Unpersist every frame :func:`persist` recorded.

    A result built before the release still runs: its frames are
    recomputed from lineage, and no persisted frame is nondeterministic.
    """
    while _PERSISTED:
        _PERSISTED.pop().unpersist()
