"""Threshold alerting with cooldown dedup (SURVEY.md F8, P10-P12, D2).

The reference raises an alert when ``value >= threshold``
(MapView.jsx:92, default 1000 -- App.jsx:14), classifies severity two
inconsistent ways (both live, both exposed here):

- MapView variant:     value >= 2*threshold -> critical else warning
- useWebsocket variant: >=100 critical, >=50 warning, else info

and suppresses repeats of the same (severity, 3-dp location) within a
30 s cooldown (useAlertManager.js:12-29).

Batch analog of the wall-clock cooldown: event-time 30 s tumbling
buckets per cooldown key, keeping the earliest alert per (key, bucket)
-- one hash aggregation (min_by), no window-function sort. The exact
last-emit-time semantics (an alert 29 s after one that was itself
suppressed IS emitted by the reference) is inherently sequential per
key; the streaming layer implements it faithfully with
applyInPandasWithState (streaming/stateful.py); this bucketed version
is the scalable batch approximation and is documented as such.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CONFIG
from ..functions.levels import severity_map, severity_ws


def alerts_ws(points: DataFrame) -> DataFrame:
    """The useWebsocket alert variant (the reference's SECOND, coexisting
    alert path): same threshold filter, severity by the 100/50 rule
    (P10), message 'High radiation detected: {v} CPM'
    (useWebsocket.js:59-69)."""
    return points.filter(F.col("value") >= F.lit(CONFIG.alert_threshold)).select(
        "event_id",
        "timestamp",
        F.col("value"),
        severity_ws(F.col("value")).alias("severity"),
        F.concat(
            F.lit("High radiation detected: "),
            F.col("value").cast("string"),
            F.lit(" CPM"),
        ).alias("alert_message"),
    )


def alert_candidates(points: DataFrame) -> DataFrame:
    """F8 threshold filter + P10 severity + P12 message + D2 cooldown key.

    Input: valid silver points (lat/lon/value/timestamp/event_time).
    Output adds: severity, cooldown_key, alert_message.
    """
    d = CONFIG.alert_location_decimals
    sev = severity_map(F.col("value"))
    # useAlertManager.js:19 -- `${severity}-${lat.toFixed(3)},${lon.toFixed(3)}`
    key = F.concat_ws(
        "-",
        sev,
        F.concat_ws(
            ",",
            F.format_string(f"%.{d}f", F.col("lat")),
            F.format_string(f"%.{d}f", F.col("lon")),
        ),
    )
    # MapView.jsx:97 -- `CPM ${value} at [${lat2}, ${lon2}]`
    msg = F.format_string(
        "CPM %s at [%s, %s]",
        F.col("value").cast("string"),
        F.format_string("%.2f", F.col("lat")),
        F.format_string("%.2f", F.col("lon")),
    )
    return (
        points.filter(F.col("value") >= F.lit(CONFIG.alert_threshold))
        .withColumn("severity", sev)
        .withColumn("cooldown_key", key)
        .withColumn("alert_message", msg)
    )


def active_alerts(candidates: DataFrame) -> DataFrame:
    """W11 auto-expiring alert view: alerts still visible at the end of
    the stream -- severity-dependent TTL (critical 15 s / warning 10 s /
    else 7 s, useAlertManager.js:50-65), at most the 5 newest retained. 'Now' is the max event time over candidates, making the
    batch view deterministic."""
    ttl = (
        F.when(F.col("severity") == "critical", 15)
        .when(F.col("severity") == "warning", 10)
        .otherwise(7)
    )
    now = candidates.agg(F.max("event_time").alias("_now"))
    return (
        candidates.crossJoin(F.broadcast(now))
        .filter(
            F.unix_timestamp("event_time") + ttl > F.unix_timestamp("_now")
        )
        .drop("_now")
        .orderBy(F.col("event_time").desc(), F.col("event_id").desc())
        .limit(5)
    )


def alert_cooldown(candidates: DataFrame) -> DataFrame:
    """D2 cooldown dedup, batch analog: the lowest-event_id alert per
    (cooldown_key, 30 s event-time bucket). One shuffle, min_by agg."""
    bucket = (
        F.floor(F.unix_timestamp("event_time") / CONFIG.alert_cooldown_seconds)
    ).alias("cooldown_bucket")
    others = [c for c in candidates.columns if c != "cooldown_key"]
    agg = candidates.groupBy(F.col("cooldown_key"), bucket).agg(
        F.min_by(F.struct(*others), F.col("event_id")).alias("_first")
    )
    return agg.select("cooldown_key", "cooldown_bucket", "_first.*")
