"""Operational entry point: the reference pipeline, end to end, on real infra.

Wires the exact production shape of ``lnynhi02/Stream-Processing-Pipeline``
(``/root/reference/src/spark_streaming.py:340-360``) from this engine's
components: Kafka JSON topic -> taxi schema contract -> six concurrent
streaming queries -> PostgreSQL JDBC sinks with per-query checkpoints and
email alerts. Requires a Kafka broker + Postgres (e.g. the reference's
docker-compose); everything it composes is unit/integration tested against
file sources in ``tests/``.

Usage (the Kafka connector is not bundled with PySpark — submit with it):
    spark-submit --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
        tools/run_reference_topology.py config.ini

config.ini:
    [kafka]    brokers=localhost:9094  topic=yellow_tripdata
    [postgres] url=jdbc:postgresql://localhost:5432/taxi  user=...  password=...
    [engine]   checkpoint_root=tmp/checkpoints
    [alerts]   ; optional: smtp_host, smtp_port, sender, password, recipients
"""

from __future__ import annotations

import configparser
import sys

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from stream_processing_pipeline_spark.contracts import FEE_COMPONENTS, TRIP_CONTRACT
from stream_processing_pipeline_spark.operators.aggregates import windowed_agg
from stream_processing_pipeline_spark.operators.filters import (
    discrepancy_filter,
    not_null,
    outside_range,
)
from stream_processing_pipeline_spark.operators.joins import dim_join
from stream_processing_pipeline_spark.operators.project import derive_duration_minutes
from stream_processing_pipeline_spark.session import build_session
from stream_processing_pipeline_spark.sources.files import read_static_csv
from stream_processing_pipeline_spark.sources.kafka import read_kafka_stream
from stream_processing_pipeline_spark.streaming import (
    EmailAlerter,
    JdbcSink,
    LogAlerter,
    StreamQuerySpec,
    Topology,
    with_alert,
)


def main(config_path: str) -> None:
    cfg = configparser.ConfigParser()
    cfg.read(config_path)
    spark = build_session(app_name="reference_topology")
    typed = TRIP_CONTRACT.parse_json(
        read_kafka_stream(
            spark,
            cfg["kafka"]["brokers"],
            cfg["kafka"]["topic"],
            max_offsets_per_trigger=100_000,
        )
    )

    pg = cfg["postgres"]
    props = {"user": pg["user"], "password": pg["password"], "driver": "org.postgresql.Driver"}

    def jdbc(table: str) -> JdbcSink:
        return JdbcSink(pg["url"], table, props)

    if cfg.has_section("alerts") and cfg["alerts"].get("smtp_host"):
        al = cfg["alerts"]
        alerter = EmailAlerter(
            al["smtp_host"], al.getint("smtp_port", 587), al["sender"],
            al["password"], al.get("recipients", "").split(","),
        )
    else:
        alerter = LogAlerter()

    topo = Topology(spark, checkpoint_root=cfg["engine"]["checkpoint_root"])

    # Q1 raw persistence (reference :127-138)
    topo.add(StreamQuerySpec("yellow_tripdata", typed, jdbc("yellow_tripdata")))

    # Q2 abnormal duration (:155-193)
    q2 = (
        derive_duration_minutes(typed, "pickup_datetime", "dropoff_datetime")
        .filter(outside_range(F.col("duration_minutes"), 1, 120))
        .select(
            "pickup_datetime", "dropoff_datetime", "pu_location_id",
            "do_location_id",
            F.round("duration_minutes", 2).alias("trip_duration_minutes"),
        )
    )
    topo.add(StreamQuerySpec(
        "abnormal_duration", q2,
        with_alert(jdbc("abnormal_duration"), alerter, "abnormal trip durations"),
    ))

    # Q3 abnormal fee (:196-239)
    q3 = discrepancy_filter(typed, "total_amount", FEE_COMPONENTS, 1.0,
                            out="amount_discrepancy").select(
        "pickup_datetime", "dropoff_datetime", "pu_location_id",
        "do_location_id", F.round("amount_discrepancy", 2).alias("amount_discrepancy"),
    )
    topo.add(StreamQuerySpec(
        "abnormal_fee", q3,
        with_alert(jdbc("abnormal_fee"), alerter, "abnormal fees"),
    ))

    # Q4 hourly avg revenue (:242-269)
    is_cc, is_cash = F.col("payment_type") == 1, F.col("payment_type") == 2
    q4 = windowed_agg(
        not_null(typed, "total_amount"), "pickup_datetime",
        aggs={
            "total_amount": F.round(F.avg("total_amount"), 2),
            "credit_card": F.round(F.avg(F.when(is_cc, F.col("total_amount"))), 2),
            "cash": F.round(F.avg(F.when(is_cash, F.col("total_amount"))), 2),
        },
        watermark="60 minutes",
    )
    topo.add(StreamQuerySpec("avg_revenue_per_hour", q4, jdbc("avg_revenue_per_hour")))

    # Q5 hourly trip counts (:272-298)
    q5 = windowed_agg(
        typed, "pickup_datetime",
        aggs={
            "total_trip": F.count(F.lit(1)),
            "credit_card": F.count(F.when(is_cc, 1)),
            "cash": F.count(F.when(is_cash, 1)),
        },
        watermark="60 minutes",
    )
    topo.add(StreamQuerySpec("trip_count_per_hour", q5, jdbc("trip_count_per_hour")))

    # Q6 hourly trips per borough (:301-337); zone lookup CSV path in config
    lookup = read_static_csv(
        spark, cfg["engine"].get("zone_lookup", "data/taxi_zone_lookup.csv")
    )
    q6 = windowed_agg(
        dim_join(
            typed.select("pickup_datetime", "pu_location_id"), lookup,
            on=F.col("pu_location_id") == F.col("LocationID"), how="left",
            dim_cols=["LocationID", "Borough"],
        ),
        "pickup_datetime",
        aggs={"total_trip": F.count("pu_location_id")},
        extra_keys=["Borough"],
        watermark="60 minutes",
    )
    topo.add(StreamQuerySpec(
        "trip_count_by_borough", q6.withColumnRenamed("Borough", "borough"),
        jdbc("trip_count_by_borough"),
    ))

    topo.start_all()
    topo.await_any()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "config.ini")
