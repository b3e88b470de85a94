"""Scale utilities + reference taxi contract tests."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from stream_processing_pipeline_spark.contracts import FEE_COMPONENTS, TRIP_CONTRACT
from stream_processing_pipeline_spark.operators.filters import discrepancy_filter
from stream_processing_pipeline_spark.operators.scale import (
    salted_join,
    write_bucketed,
)


def test_trip_contract_wire_roundtrip(spark):
    """Kafka-shaped path: the reference's exact 19-column JSON payload ->
    typed trip row, empty-string NULLs, flag dropped."""
    payload = {
        "VendorID": "2",
        "tpep_pickup_datetime": "2024-01-01 10:00:00",
        "tpep_dropoff_datetime": "2024-01-01 10:25:30",
        "passenger_count": "",
        "trip_distance": "3.5",
        "RatecodeID": "1",
        "store_and_fwd_flag": "N",
        "PULocationID": "132",
        "DOLocationID": "236",
        "payment_type": "1",
        "fare_amount": "18.40",
        "extra": "1.0",
        "mta_tax": "0.5",
        "tip_amount": "4.0",
        "tolls_amount": "0.0",
        "improvement_surcharge": "1.0",
        "total_amount": "27.65",
        "congestion_surcharge": "2.75",
        "Airport_fee": "",
    }
    df = spark.createDataFrame([(json.dumps(payload).encode(),)], ["value"])
    out = TRIP_CONTRACT.parse_json(df).collect()[0]
    assert out.vendor_id == 2
    assert out.pickup_datetime == dt.datetime(2024, 1, 1, 10, 0)
    assert out.passenger_count is None
    assert out.airport_fee is None
    assert out.total_amount == 27.65
    assert "store_and_fwd_flag" not in out.asDict()
    assert len(out.asDict()) == 18  # the reference's typed width

    # The reference's abnormal-fee predicate over the same contract:
    # 18.40+1.0+0.5+4.0+0.0+1.0+2.75 = 27.65 -> |27.65-27.65| <= 1, clean.
    typed = TRIP_CONTRACT.parse_json(df)
    flagged = discrepancy_filter(typed, "total_amount", FEE_COMPONENTS, 1.0)
    assert flagged.count() == 0


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join results — only key distribution."""
    skewed = spark.createDataFrame(
        [Row(k=1 if i < 900 else i % 7, v=i) for i in range(1000)]
    )
    small = spark.createDataFrame([Row(k=i, name=f"dim{i}") for i in range(10)])
    plain = {(r.k, r.v, r.name) for r in skewed.join(small, "k").collect()}
    salted = {(r.k, r.v, r.name) for r in salted_join(skewed, small, "k").collect()}
    assert salted == plain and len(plain) > 900


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-bucketed tables join without an Exchange on either side."""
    import contextlib
    import io

    # Force the sort-merge path: tiny test tables would otherwise broadcast,
    # which hides the property under test (bucketing removing the Exchange).
    confs = ("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k) for k in confs}  # None: unset
    try:
        for k in confs:
            spark.conf.set(k, "-1")
        for t in ("t_orders_b", "t_items_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        orders = spark.createDataFrame(
            [Row(k=i % 50, o=i) for i in range(1000)]
        )
        items = spark.createDataFrame(
            [Row(k=i % 50, amt=float(i)) for i in range(2000)]
        )
        write_bucketed(orders, "t_orders_b", str(tmp_path / "t_orders_b"), "k", n_buckets=8)
        write_bucketed(items, "t_items_b", str(tmp_path / "t_items_b"), "k", n_buckets=8)
        joined = spark.table("t_orders_b").join(spark.table("t_items_b"), "k")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # bucketing replaced both shuffles
        assert joined.count() == 1000 * 2000 / 50
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_items_b")
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """A date-partitioned layout must surface the predicate as a
    PartitionFilter (directory pruning — zero IO for other days), not a data
    filter evaluated against every row."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.operators.scale import write_partitioned
    from stream_processing_pipeline_spark.sources.registry import TableCatalog

    from .conftest import SF_SMALL

    events = TableCatalog(spark, SF_SMALL, register_views=False).events
    path = str(tmp_path / "events_by_day")
    write_partitioned(events.withColumn("day", F.to_date("ts")), path, "day")

    back = spark.read.parquet(path)
    one_day = back.filter(F.col("day") == "2024-01-02")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the day predicate must be in the partition filters, not a row filter
    import re

    pf = " ".join(re.findall(r"PartitionFilters: \[([^\]]*)\]", plan))
    assert "day" in pf and "2024-01-02" in pf, plan
    # and the rows really are only that day's
    days = [r.day.isoformat() for r in one_day.select("day").distinct().collect()]
    assert days == ["2024-01-02"]


def test_dynamic_partition_pruning(spark, tmp_path):
    """Joining a date-partitioned fact on its partition column against a
    filtered dimension must insert a runtime DPP filter
    (``dynamicpruningexpression`` in PartitionFilters): the fact scan reads
    only the partitions the dimension's surviving rows name — decided at
    run time, which at 100 TB is the difference between scanning one day
    and scanning the table when the kept days aren't known statically."""
    import contextlib
    import io
    import re
    from datetime import date

    from pyspark.sql import functions as F

    from stream_processing_pipeline_spark.operators.scale import write_partitioned
    from stream_processing_pipeline_spark.sources.registry import TableCatalog

    from .conftest import SF_SMALL

    events = TableCatalog(spark, SF_SMALL, register_views=False).events
    path = str(tmp_path / "ev_day_dpp")
    write_partitioned(events.withColumn("day", F.to_date("ts")), path, "day")
    back = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(date(2024, 1, 2), "keep"), (date(2024, 1, 3), "drop"),
         (date(2024, 1, 4), "drop")],
        "day date, tag string",
    )
    joined = back.join(dim.filter(F.col("tag") == "keep"), "day")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    pf = " ".join(re.findall(r"PartitionFilters: \[([^\]]*)\]", plan))
    assert "dynamicpruning" in pf, plan
    assert [r.day.isoformat() for r in joined.select("day").distinct().collect()] == [
        "2024-01-02"
    ]


def test_schema_evolution_merge_read(spark, tmp_path):
    """Rolling schema evolution on an append-only table: a new ingest
    version adds a column, old files stay untouched, and a mergeSchema read
    unifies them with NULLs for pre-evolution rows — the way a 100 TB
    corpus gains a field without a rewrite. Also pins the default: WITHOUT
    mergeSchema, Spark serves the first-listed file's schema (silently
    dropping the new column) — which is why the engine's ingest
    documentation says evolving readers must opt in."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    ).write.parquet(path + "/batch=0")
    spark.createDataFrame(
        [(3, "c", "en")], "doc_id long, text string, lang string"
    ).write.parquet(path + "/batch=1")

    merged = spark.read.option("mergeSchema", "true").parquet(
        path + "/batch=0", path + "/batch=1"
    )
    assert sorted(f.name for f in merged.schema.fields) == [
        "doc_id",
        "lang",
        "text",
    ]
    rows = {r.doc_id: r.lang for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "en"}
    n_nonnull = merged.filter(F.col("lang").isNotNull()).count()
    assert n_nonnull == 1
