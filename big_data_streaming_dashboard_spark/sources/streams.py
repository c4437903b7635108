"""Streaming source adapters (SURVEY.md S7, S9).

The reference consumes Kafka (`radiation-data`, latest offsets --
flink_process/flink_process.py:230-236) with a ~1000 rec/s replay
throttle (S7). Kafka needs a broker + the spark-sql-kafka jar (absent
here), so the Kafka adapter builds the reader but is exercised only
when a broker is configured; tests drive the SAME downstream pipeline
from file and rate sources -- source choice is one line, the plan
below it is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BRONZE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("captured_time", T.StringType(), True),
        T.StructField("latitude", T.StringType(), True),
        T.StructField("longitude", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("ingestion_timestamp", T.LongType(), True),
    ]
)

# raw Kafka JSON payload (data_provider/data_provider.py:125-132)
KAFKA_JSON_SCHEMA = T.StructType(
    [
        T.StructField("captured_time", T.StringType(), True),
        T.StructField("latitude", T.StringType(), True),
        T.StructField("longitude", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
        T.StructField("unit", T.StringType(), True),
        T.StructField("ingestion_timestamp", T.LongType(), True),
    ]
)


def parse_kafka_json(raw: DataFrame) -> DataFrame:
    """P1: parse the raw Kafka JSON payload ONCE at the edge
    (vs the reference's per-operator json.loads). Works on any
    DataFrame with binary/string ``value`` and ``key`` columns --
    batch-testable without a broker; malformed JSON yields an all-null
    struct which the validator routes to dirty (F1)."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), KAFKA_JSON_SCHEMA).alias("r"),
        F.col("key").cast("string").alias("kafka_key"),
    )
    return parsed.select("r.*", "kafka_key")


def stream_parquet_bronze(spark: SparkSession, dir_path: str) -> DataFrame:
    """File-source replay of a bronze directory (test/dev harness).

    ``maxFilesPerTrigger`` is the file-source analog of the reference's
    replay throttle (S7).
    """
    return (
        spark.readStream.schema(BRONZE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(dir_path)
    )


def stream_rate_bronze(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Rate-source synthetic bronze (parity with the reference's
    ~1000 rec/s producer ceiling, BASELINE.md)."""
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("captured_time"),
        F.format_string("%.2f", (F.col("value") % 18000) / 100.0 - 90.0).alias("latitude"),
        F.format_string("%.2f", (F.col("value") * 7 % 36000) / 100.0 - 180.0).alias(
            "longitude"
        ),
        F.format_string("%.2f", (F.col("value") % 2500).cast("double")).alias("value"),
        F.lit("cpm").alias("unit"),
        F.unix_millis(F.col("timestamp")).alias("ingestion_timestamp"),
    )


def stream_kafka_bronze(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "radiation-data",
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = 100_000,
) -> DataFrame:
    """Kafka -> bronze: parse the JSON payload ONCE at the edge
    (from_json), vs the reference's per-operator json.loads (P1).

    Requires the spark-sql-kafka package on the classpath; not
    available in the test container (documented, not stubbed away).
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger:
        # S7: replay-rate bound (the Kafka analog of the reference's
        # per-record sleep throttle)
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return parse_kafka_json(reader.load())


def read_playback_config(config_dir: str) -> float:
    """S13: dynamic-config channel, effective semantics.

    The reference publishes {"playback_speed": x} to a Kafka config
    topic (backend/main.py:44-51) and the producer's listener thread
    applies it to the replay delay (data_provider/data_provider.py:
    67-84); the reference's *server-side* consumer is dead code (never
    started -- SURVEY §2.1 S13). Spark sources can't change options
    mid-query, so the effective semantics here: the LATEST config in
    the channel is applied at (re)start, which micro-batch restart
    makes cheap and exactly-once (checkpoint preserves offsets).

    File-backed channel (one JSON doc per file, lexically-last file
    wins = latest message); the Kafka form would read the compacted
    config topic's tail instead. Speed 1.0 when the channel is empty or
    unreadable."""
    import json
    import os

    try:
        files = sorted(
            f for f in os.listdir(config_dir) if f.endswith(".json")
        )
        if not files:
            return 1.0
        with open(os.path.join(config_dir, files[-1])) as fh:
            return float(json.load(fh).get("playback_speed", 1.0))
    except (OSError, ValueError):
        return 1.0


def stream_parquet_bronze_dynamic(
    spark: SparkSession, dir_path: str, config_dir: str
) -> DataFrame:
    """File-source bronze replay whose throttle follows the config
    channel: files-per-trigger = playback_speed, at least 1 (the
    maxFilesPerTrigger analog of the reference's delay/speed). Restart
    the query to pick up a new speed (see read_playback_config)."""
    files_per_trigger = max(1, int(read_playback_config(config_dir)))
    return (
        spark.readStream.schema(BRONZE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(dir_path)
    )
