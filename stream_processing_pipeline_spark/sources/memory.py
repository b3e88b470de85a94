"""In-memory sources for tests and local development.

``chunked_stream`` writes a batch DataFrame out as N parquet chunks and
re-reads the directory as a streaming source with one-file micro-batches —
the harness used to prove stream/batch equivalence (same input, chunked
replay, identical finalized output) without any external infra.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from .files import read_stream

__all__ = ["chunked_stream"]


def chunked_stream(
    spark: SparkSession, df: DataFrame, workdir: str, n_chunks: int = 4
) -> DataFrame:
    """Materialize ``df`` as ``n_chunks`` files and replay them as a stream."""
    os.makedirs(workdir, exist_ok=True)
    pdf = df.toPandas()
    per = max(1, math.ceil(len(pdf) / n_chunks))
    for i in range(n_chunks):
        chunk = pdf.iloc[i * per : (i + 1) * per]
        if len(chunk):
            spark.createDataFrame(chunk, schema=df.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(workdir, f"chunk={i}"))
    return read_stream(
        spark,
        workdir + "/chunk=*",
        schema=df.schema,
        max_files_per_trigger=1,
    )
