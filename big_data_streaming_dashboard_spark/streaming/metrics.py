"""Pipeline observability (SURVEY.md S8, A3).

The reference logs running ingest counters (total/sent/skipped rows,
rec/s, MB/s) every 10 chunks (data_provider/data_provider.py:97-104,
163-193). Spark-native equivalents:

- ``with_observed_metrics``: ``df.observe()`` attaches named aggregates
  evaluated per micro-batch with NO extra pass over the data; they
  arrive in ``StreamingQueryProgress.observedMetrics`` (streaming) or
  via ``QueryExecutionListener`` (batch).
- ``IngestMetricsListener``: collects per-batch progress (rows/s,
  batch duration, observed metrics) like the reference's periodic log
  lines -- but from the engine's own instrumentation, not a hand
  counter.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OBSERVATION_NAME = "ingest_metrics"


def with_observed_metrics(df: DataFrame) -> DataFrame:
    """Attach S8-style counters under ``OBSERVATION_NAME``: total rows,
    valid/invalid split, critical count, max ingestion timestamp."""
    return df.observe(
        OBSERVATION_NAME,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("status") == "valid", 1)).alias("n_valid"),
        F.count(F.when(F.col("status") == "invalid", 1)).alias("n_invalid"),
        F.count(F.when(F.col("critical"), 1)).alias("n_critical"),
        F.max("ingestion_timestamp").alias("max_ingest_ts"),
    )


class IngestMetricsListener:
    """Collects observed metrics from streaming progress events.

    Usage:
        listener = IngestMetricsListener()
        ...run query with .observe()-instrumented stream...
        for p in query.recentProgress: listener.record(p)
    """

    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []

    def record(self, progress: Any) -> None:
        if progress is None:
            return
        observed = (progress.get("observedMetrics") or {}).get(OBSERVATION_NAME)
        if observed is not None and hasattr(observed, "asDict"):
            observed = observed.asDict()  # pyspark Row
        self.batches.append(
            {
                "batchId": progress.get("batchId"),
                "numInputRows": progress.get("numInputRows"),
                "inputRowsPerSecond": progress.get("inputRowsPerSecond"),
                "observed": dict(observed) if observed else None,
            }
        )

    def totals(self) -> dict[str, int]:
        out = {"n_rows": 0, "n_valid": 0, "n_invalid": 0, "n_critical": 0}
        for b in self.batches:
            if b["observed"]:
                for k in out:
                    out[k] += b["observed"].get(k) or 0
        return out
