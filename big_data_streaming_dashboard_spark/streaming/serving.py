"""Serving layer (SURVEY.md S12-S13, F7, W9).

The reference's backend consumes normal+critical Kafka topics, tags
``data_priority``, and fans records out to WebSocket clients
(backend/main.py:73-106); the frontend drops heartbeats, buffers, and
recomputes stats every 5 s (useWebsocket.js, useDatastats.js).

Spark-side equivalents:
- ``priority_tag``     - S12's per-topic tag as a column expression
- ``drop_heartbeats``  - F7 (type=='heartbeat' discarded)
- ``client_sanity_filter`` - F5 defense-in-depth re-validation
- ``DashboardState``   - a foreachBatch sink maintaining the gold
  in-memory snapshot the dashboard reads: recent points (W8 cap),
  rolling stats (W9/A1). The aggregation runs IN SPARK per
  micro-batch; only the bounded top-2000 snapshot crosses to the
  driver (the reference ships every record to every browser and
  aggregates client-side -- our dashboard reads materialized results
  instead, SURVEY.md section 3.3).

The push hop itself -- the `/ws` hub, its S14 `/health` gauge
{status, connected_clients} and the foreachBatch sink -- lives in
``streaming/ws.py``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CONFIG
from ..operators.analytics import recent_points, rolling_stats


def priority_tag(df: DataFrame) -> DataFrame:
    """S12: data_priority = critical|normal by route/critical flag
    (backend/main.py:92-97)."""
    return df.withColumn(
        "data_priority",
        F.when(F.col("critical"), "critical").otherwise("normal"),
    )


def drop_heartbeats(df: DataFrame) -> DataFrame:
    """F7: heartbeat messages discarded (useWebsocket.js:42-44)."""
    if "type" not in df.columns:
        return df
    return df.filter(F.col("type").isNull() | (F.col("type") != "heartbeat"))


def client_sanity_filter(df: DataFrame) -> DataFrame:
    """F5: defense-in-depth recheck of coords/value
    (useWebsocket.js:44-58)."""
    return df.filter(
        F.col("lat").between(-90.0, 90.0)
        & F.col("lon").between(-180.0, 180.0)
        & F.col("value").isNotNull()
        & ~F.isnan(F.col("value").cast("double"))
    )


class DashboardState:
    """In-memory gold snapshot maintained by a foreachBatch sink.

    Accumulates valid points into a bounded recent-points snapshot
    (retention cap, W8) and recomputes the A1 stats in Spark per
    micro-batch. The driver-side footprint is O(retention cap).
    """

    cfg = CONFIG  # the fixed constants; readers check retention_points

    def __init__(self) -> None:
        self.recent: list[dict[str, Any]] = []
        self.stats: dict[str, Any] = {}
        self.batches_seen = 0
        self._schema = None

    def foreach_batch(self, batch: DataFrame, epoch_id: int) -> None:
        """Merge the batch into the retained snapshot (the reference
        keeps the last 2000 features ACROSS messages, MapView.jsx:83-89)
        and recompute A1 stats over the retained set -- both in Spark;
        only the bounded snapshot lives on the driver."""
        spark = batch.sparkSession
        valid = client_sanity_filter(
            priority_tag(batch.filter(F.col("status") == "valid"))
        )
        if self._schema is None:
            self._schema = valid.schema
        combined = valid
        if self.recent:
            combined = valid.unionByName(
                spark.createDataFrame(self.recent, self._schema)
            )
        snap = recent_points(combined).persist()
        try:
            self.recent = [r.asDict() for r in snap.collect()]
            self.stats = rolling_stats(snap).collect()[0].asDict()
            self.batches_seen += 1
        finally:
            snap.unpersist()
