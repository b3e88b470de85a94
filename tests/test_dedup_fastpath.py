"""Round-11 shingle fast path: Spark-vs-DuckDB pins on a live session.

The substring/Jaccard family's shingle identity moved from md5 over
concatenated window strings to a dual 31-bit polynomial fold over
per-token h60s (VERDICT r10 #5). These tests pin the live Spark kernels
against their DuckDB twins (the pure-SQL side is property-tested in
tests/test_properties.py), the xxhash64 twins against Spark's built-in,
and the posting-array pair enumeration against the legacy self-join.
"""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import Window
from pyspark.sql import functions as F

from stream_processing_pipeline_spark.functions.hashing import (
    xxh64_fold_sql,
    xxh64_longs_sql,
)
from stream_processing_pipeline_spark.operators.dedup import (
    shingle_key,
    shingle_key_of_tokens_sql,
)
from stream_processing_pipeline_spark.operators.text import (
    normalize_text_sql,
    tokens_sql,
)

SF = "/root/testdata/sf0.001"


def test_spark_xxhash64_equals_duckdb_twin(spark):
    """Spark's built-in multi-column xxhash64 over BIGINTs == the generated
    DuckDB UHUGEINT chain (fixed arity), and the F.aggregate chain == the
    fold twin (variable length). This is the proof the xxh64 twins cite;
    the family ships the polynomial key because this twin measured ~100x
    slower ORACLE-side (operators/dedup.py comment)."""
    random.seed(23)
    rows = [tuple(random.getrandbits(60) for _ in range(4)) for _ in range(25)]
    df = spark.createDataFrame(rows, "a long, b long, c long, d long")
    got_spark = [r[0] for r in df.select(F.xxhash64("a", "b", "c", "d")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT, c BIGINT, d BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
    got_duck = [
        r[0]
        for r in con.execute(f"SELECT {xxh64_longs_sql('[a, b, c, d]')} FROM t").fetchall()
    ]
    assert got_spark == got_duck

    lists = [[random.getrandbits(60) for _ in range(random.randint(0, 7))] for _ in range(15)]
    df2 = spark.createDataFrame([(l,) for l in lists], "l array<long>")
    got_spark2 = [
        r[0]
        for r in df2.select(
            F.aggregate("l", F.lit(42).cast("long"), lambda acc, x: F.xxhash64(acc, x))
        ).collect()
    ]
    con2 = duckdb.connect()
    con2.execute("CREATE TABLE t2(l BIGINT[])")
    con2.executemany("INSERT INTO t2 VALUES (?)", [(l,) for l in lists])
    got_duck2 = [
        r[0] for r in con2.execute(f"SELECT {xxh64_fold_sql('l')} FROM t2").fetchall()
    ]
    assert got_spark2 == got_duck2


def test_shingle_key_spark_equals_duckdb(spark):
    """End-to-end shingle identity: live Spark shingle_key == its DuckDB
    twin (normalize, split, shingle_key_of_tokens_sql) on adversarial texts
    (normal, short-doc fallback, single token, empty, unicode)."""
    texts = [
        "The quick brown fox jumps over the lazy dog",
        "one two",
        "single",
        "",
        "Pack my box with five dozen liquor jugs   extra   spaces",
        "naïve café déjà-vu über ALL the PLACES",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got_spark = {
        r.doc_id: r.s
        for r in df.select("doc_id", shingle_key("text", 3).alias("s")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?,?)", list(enumerate(texts)))
    key_sql = shingle_key_of_tokens_sql(tokens_sql(normalize_text_sql("text")), 3)
    got_duck = {
        r[0]: r[1]
        for r in con.execute(f"SELECT doc_id, {key_sql} FROM d").fetchall()
    }
    assert got_spark == got_duck


def test_substring_posting_array_equals_self_join(spark):
    """The posting-array pair enumeration (one exchange) produces exactly
    the rows of the legacy distinct + df-window + self-join chain (three
    exchanges) on the fixture corpus — the rewrite changed the physical
    shape only."""
    from stream_processing_pipeline_spark.operators import text as T
    from stream_processing_pipeline_spark.operators.dedup import (
        shingle_key_of_token_hashes,
        token_hashes,
    )
    from stream_processing_pipeline_spark.plans import REGISTRY
    from stream_processing_pipeline_spark.plans.common import catalog

    N, CAP = 16, 64
    docs = catalog(spark, SF).documents
    toked = docs.select(
        "doc_id", token_hashes(T.tokens(T.normalize_text("text"))).alias("ths")
    ).filter(F.size("ths") >= N)
    grams = toked.select(
        "doc_id", shingle_key_of_token_hashes(F.col("ths"), N).alias("gs")
    )
    p0 = grams.select("doc_id", F.explode("gs").alias("h")).distinct()
    w = Window.partitionBy("h")
    p = (
        p0.withColumn("df_", F.count(F.lit(1)).over(w))
        .filter(F.col("df_") <= CAP)
        .drop("df_")
    )
    a = p.select(F.col("doc_id").alias("doc_a"), "h")
    b = p.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"))
    legacy = (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )
    want = {(r.doc_a, r.doc_b): r.n_shared_spans for r in legacy.collect()}
    got = {
        (r.doc_a, r.doc_b): r.n_shared_spans
        for r in REGISTRY["dedup_exact_substring_pairs"].fn(spark, SF).collect()
    }
    assert got == want


def test_spread_small_scan_guard(spark, tmp_path):
    """The scan-fanout guard (ADVICE r11): repartitions a one-file scan to
    defaultParallelism, leaves an already-wide frame untouched (identity —
    no hidden shuffle at production split counts), and refuses streaming
    frames instead of failing deep in the plan."""
    from stream_processing_pipeline_spark.operators.dedup import spread_small_scan

    par = spark.sparkContext.defaultParallelism

    # one-file scan -> fanned out
    src = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.mode("overwrite").parquet(src)
    narrow = spark.read.parquet(src)
    assert len(narrow.inputFiles()) == 1
    spread = spread_small_scan(narrow, "id")
    assert spread.rdd.getNumPartitions() == par
    assert spread.count() == 100

    # already-wide frame -> identity (same object, no repartition node)
    wide = spark.range(1000).repartition(par)
    assert spread_small_scan(wide) is wide

    # fileless narrow frame -> RDD fallback still fans out
    synth = spark.range(50).coalesce(1)
    assert spread_small_scan(synth).rdd.getNumPartitions() == par

    # streaming frames are refused
    stream = spark.readStream.format("rate").load()
    try:
        spread_small_scan(stream)
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_winnow_posting_array_equals_self_join(spark):
    """The winnow screen's posting-array pair enumeration (_posting_pairs,
    round 12) is row-identical to the legacy distinct + df-window +
    self-join chain it replaced — the same proof the substring family got
    in round 11, replayed over the winnowed fingerprint postings."""
    from pyspark.sql import Window as W

    from stream_processing_pipeline_spark.plans import REGISTRY
    from stream_processing_pipeline_spark.plans.dedupq import (
        _WN_DF_CAP,
        _winnow_frame,
    )

    w = _winnow_frame(spark, SF)
    p0 = w.select("doc_id", F.explode("fps").alias("h")).distinct()
    win = W.partitionBy("h")
    p = (
        p0.withColumn("df_", F.count(F.lit(1)).over(win))
        .filter(F.col("df_") <= _WN_DF_CAP)
        .drop("df_")
    )
    a = p.select(F.col("doc_id").alias("doc_a"), "h")
    b = p.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"))
    legacy = (
        a.join(b, (F.col("h") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= 2)
    )
    want = {(r.doc_a, r.doc_b): r.n_shared_fps for r in legacy.collect()}
    got = {
        (r.doc_a, r.doc_b): r.n_shared_fps
        for r in REGISTRY["dedup_winnow_pairs"].fn(spark, SF).collect()
    }
    assert got == want and len(got) > 0
