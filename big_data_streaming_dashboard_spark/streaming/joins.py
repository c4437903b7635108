"""Streaming joins (engine surface the reference lacks, Spark-native).

Two canonical shapes a streaming analytics engine must support:

- **stream-static**: enrich each micro-batch against a slowly-changing
  dimension. The static side re-resolves per micro-batch (so a dim
  refresh is picked up without restarting the query) and broadcasts --
  zero shuffle on the stream side.
- **stream-stream interval join**: correlate two live streams within a
  bounded event-time skew. BOTH sides carry watermarks and the join
  condition bounds the time difference in BOTH directions -- that is
  what lets Spark expire buffered state; an unbounded condition would
  accumulate state forever (the 100 TB failure mode).

The reference has no join surface at all (SURVEY §2.6); these follow
Spark's documented stream-join semantics so downstream users get the
standard behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CONFIG

# escalation policy per severity level -- the kind of small dimension a
# dashboard joins on every refresh (static side of stream-static join)
LEVEL_POLICY_ROWS = [
    ("low", "none", 0),
    ("moderate", "notify", 1),
    ("high", "page", 2),
]


def level_policy(spark) -> DataFrame:
    return spark.createDataFrame(
        LEVEL_POLICY_ROWS, "level string, action string, priority int"
    )


def enrich_with_policy(silver: DataFrame, policy: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment: valid rows pick up their
    escalation policy; invalid rows pass through with nulls (left
    join keeps the bypass alive)."""
    return silver.join(F.broadcast(policy), "level", "left")


def cell_3dp(lat, lon):
    """3-decimal grid cell key -- the alert cooldown's spatial key
    (front_end/src/hooks/useAlertManager.js:25 formats 3 dp)."""
    return F.format_string("%.3f,%.3f", lat, lon)


def critical_context_stream(silver_a: DataFrame, silver_b: DataFrame) -> DataFrame:
    """Stream-stream interval join: for every critical reading, the
    valid readings in the SAME 3-dp cell within the preceding 10 s
    (inclusive of the critical instant).

    Both inputs are silver streams. State stays bounded because the
    interval condition bounds reading.event_time in both directions
    relative to critical.event_time, and both sides are watermarked:
    buffered rows expire once the other side's watermark passes their
    interval. Inner join => append mode.
    """
    wm = f"{CONFIG.watermark_seconds} seconds"
    readings = (
        silver_a.filter(F.col("status") == "valid")
        .withWatermark("event_time", wm)
        .select(
            F.col("event_id").alias("reading_id"),
            cell_3dp(F.col("lat"), F.col("lon")).alias("cell"),
            F.col("event_time").alias("reading_time"),
            F.col("value").alias("reading_value"),
        )
    )
    criticals = (
        silver_b.filter((F.col("status") == "valid") & F.col("critical"))
        .withWatermark("event_time", wm)
        .select(
            F.col("event_id").alias("critical_id"),
            cell_3dp(F.col("lat"), F.col("lon")).alias("crit_cell"),
            F.col("event_time").alias("critical_time"),
        )
    )
    return readings.join(
        criticals,
        (F.col("cell") == F.col("crit_cell"))
        & (F.col("reading_time") <= F.col("critical_time"))
        & (
            F.col("reading_time")
            >= F.col("critical_time") - F.expr("INTERVAL 10 SECONDS")
        ),
    ).select(
        "critical_id",
        "reading_id",
        "cell",
        "critical_time",
        "reading_time",
        "reading_value",
    )
