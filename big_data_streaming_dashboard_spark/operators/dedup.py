"""Keyed first-occurrence dedup (SURVEY.md D1).

The reference keys the raw stream by the composite key (S5) and keeps
only the first record per key via per-key ValueState
(flink_process/flink_process.py:248-281). Unparseable records share the
key ``invalid_key`` so only the first-ever unparseable record survives
-- a quirk we reproduce (functions/keys.py).

Batch semantics: "first" = lowest ``event_id`` (the reference's "first
seen" is arrival order; our deterministic analog is the event id).
Implemented as a single hash aggregation (``min_by``-style) rather than
window+filter: one shuffle on the key, map-side partial aggregation, no
per-partition sort -- the cheapest shape at 100 TB. Streaming variant:
streaming/pipeline.py uses ``dropDuplicates`` on the key (unbounded
state, like the reference) or ``dropDuplicatesWithinWatermark``
(bounded state, the scale-safe mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def first_occurrence_dedup(df: DataFrame) -> DataFrame:
    """Keep the first row (lowest event_id) per dedup_key. Deterministic."""
    others = [c for c in df.columns if c != "dedup_key"]
    agg = df.groupBy("dedup_key").agg(
        F.min_by(F.struct(*others), F.col("event_id")).alias("_first")
    )
    return agg.select("dedup_key", "_first.*")
