"""Streaming sinks (SURVEY.md S10-S12).

The reference writes three Kafka topics (normal/critical/dirty) as
three separate transactional sinks (flink_process/flink_process.py:
354-390). Here one ``foreachBatch`` persists each micro-batch ONCE,
routes it with the shared ``route`` column, and writes all three
destinations from the cached batch -- the upstream plan evaluates once
per trigger instead of three times (SURVEY.md section 4.1).

Kafka delivery is at-least-once under Spark; the composite key (S5)
rides along so downstream consumers can dedup idempotently (documented
EOS delta, SURVEY.md section 7.4).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.route import ROUTES, route


def route_foreach_batch(
    write_route: Callable[[str, DataFrame, int], Any],
) -> Callable[[DataFrame, int], None]:
    """Build a foreachBatch fn: persist once, write each route once.

    ``write_route(route_name, routed_subset_df, epoch_id)`` does the
    actual IO (kafka/parquet/memory); tests inject a collector.
    """

    def fn(batch: DataFrame, epoch_id: int) -> None:
        routed = route(batch).persist()
        try:
            for name in ROUTES:
                write_route(name, routed.filter(F.col("route") == name), epoch_id)
        finally:
            routed.unpersist()

    return fn


def kafka_wire(df: DataFrame) -> DataFrame:
    """The routed-topic wire shape (S6/S10): key = composite dedup key
    (D3 partition alignment + downstream idempotence,
    data_provider/data_provider.py:134-150), value = the full record
    as one JSON object (to_json drops null fields; from_json restores
    absent fields as null, so null round-trips hold). Pure projection
    shared by the Kafka writer and the brokerless contract test so the
    test pins the EXACT bytes shape the writer ships."""
    return df.select(
        F.col("dedup_key").alias("key"),
        F.to_json(F.struct(*df.columns)).alias("value"),
    )


def kafka_route_writer(bootstrap_servers: str, topic_by_route: dict[str, str]):
    """Route writer for Kafka: value = to_json(struct(*)), key = dedup
    key for idempotent downstream consumption. Needs the kafka jar."""

    def write_route(name: str, df: DataFrame, epoch_id: int) -> None:
        (
            kafka_wire(df)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic_by_route[name])
            .save()
        )

    return write_route


def debug_print_sink(
    stream_df: DataFrame,
    num_rows: int = 20,
    truncate: bool = True,
    available_now: bool = False,
):
    """S11: debug console sink -- the Spark analog of the reference's
    ``normal_stream.print()`` / ``critical_stream.print()`` debug taps
    (flink_process/flink_process.py:393-394). Returns the started
    query; dev-only (prints to driver stdout)."""
    writer = (
        stream_df.writeStream.format("console")
        .option("numRows", str(num_rows))
        .option("truncate", str(truncate).lower())
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
