"""Structured Streaming pipeline builders (SURVEY.md section 2.5).

The SAME silver operators used in batch (operators/validate.py etc.)
applied to a streaming DataFrame -- the declarative plan is identical;
only the source and the stateful dedup/window operators differ:

- dedup (D1): ``dropDuplicates`` on the composite key = the reference's
  unbounded ValueState semantics; ``dropDuplicatesWithinWatermark`` =
  the bounded-state mode that survives 100 TB/day (documented delta:
  duplicates farther apart than the watermark are NOT suppressed).
- temporal batch (W4): 1 s tumbling event-time window over the 5 s
  watermark; emits each record annotated with its same-second batch
  size, invalids bypass and union back (W5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CONFIG
from ..operators.validate import validate_enrich


def silver_stream(bronze: DataFrame, bounded_state: bool = True) -> DataFrame:
    """bronze stream -> validated+deduped silver stream."""
    silver = validate_enrich(bronze)
    # dedup needs the watermark column when bounded; invalid rows have
    # null event_time so they are deduped on the shared invalid_key in
    # the unbounded mode (the reference's D1 quirk) -- in bounded mode
    # we exclude them from dedup and union back (documented delta).
    if bounded_state:
        valid = (
            silver.filter(F.col("status") == "valid")
            .withWatermark("event_time", f"{CONFIG.watermark_seconds} seconds")
            .dropDuplicatesWithinWatermark(["dedup_key"])
        )
        invalid = silver.filter(F.col("status") == "invalid")
        return valid.unionByName(invalid)
    return silver.dropDuplicates(["dedup_key"])


def temporal_batch_stream_annotated(silver: DataFrame) -> DataFrame:
    """Reference-faithful streaming W4: when the watermark closes a 1 s
    window, re-emit EVERY record annotated with its same-second batch
    size (flink_process/flink_process.py:23-54 collects the window then
    emits each element).

    Shape: window agg collecting the row structs, then explode after
    the window closes -- ONE streaming query, the shape `full_stream`
    needs (a count-only aggregate joined back to the rows would take a
    second query and an intermediate sink, since Spark cannot join an
    aggregated stream inside one query). Scale note: the buffered
    state is one second of arrivals per (window, timestamp_key) key,
    held until the watermark closes the window.
    """
    valid = silver.filter(F.col("status") == "valid")
    cols = [c for c in valid.columns]
    agg = (
        valid.withWatermark("event_time", f"{CONFIG.watermark_seconds} seconds")
        .groupBy(
            F.window("event_time", f"{CONFIG.temporal_window_seconds} seconds"),
            F.substring("timestamp", 1, 19).alias("timestamp_key"),
        )
        .agg(
            F.collect_list(F.struct(*cols)).alias("_rows"),
            F.count(F.lit(1)).alias("temporal_batch_size"),
        )
    )
    exploded = agg.select(
        "timestamp_key",
        "temporal_batch_size",
        F.explode("_rows").alias("_r"),
    )
    return exploded.select(
        "_r.*",
        "timestamp_key",
        "temporal_batch_size",
        F.lit("compliant").alias("temporal_ordering"),
    )


def full_stream(bronze: DataFrame) -> DataFrame:
    """The reference's complete dataflow as ONE streaming query:
    validate -> dedup -> temporal annotation (W4, watermark-gated) ->
    union with the invalid bypass (W5) -> route (F3/F4).

    The union joins an aggregated (window-closed) branch with a plain
    append branch -- both append-mode, so the combined query stays
    append. Invalid rows flow through with null temporal columns,
    exactly like the batch `operators/pipeline.batch_pipeline`. The
    dedup is the reference's unbounded one (``bounded_state=False``).

    Known waste: ``silver`` feeds both branches, so the plan holds two
    ``dedupe`` state operators, each keeping every key it has seen
    (the replay benchmark's state rows are 2 x ~174k). Filtering to
    valid/invalid BEFORE the dedup would halve it but is not
    equivalent: it changes which row survives when a valid and an
    invalid reading share a composite key (value ``0.5`` vs
    ``0.504``), and each branch would then scan the source itself,
    doubling ``numInputRows``.
    """
    from ..operators.route import route

    silver = silver_stream(bronze, bounded_state=False)
    annotated = temporal_batch_stream_annotated(silver)
    invalid = silver.filter(F.col("status") == "invalid")
    merged = annotated.unionByName(invalid, allowMissingColumns=True)
    return route(merged)


def session_stream(silver: DataFrame) -> DataFrame:
    """Activity bursts per severity level via streaming session_window.

    A session = consecutive valid readings of the same level with gaps
    < 3 s. The watermark closes a session once event time moves past
    last_ts + gap + watermark; state per open session is one
    (start, end, count) triple -- bounded by the number of ACTIVE keys,
    not history, so it scales with key cardinality only. Batch-mode
    `session_window` (plans/relational2.session_window_events) is the
    oracle-paired ground truth for the merge semantics; the streaming
    form is checked against a batch run over the same fixture.
    """
    valid = silver.filter(F.col("status") == "valid")
    return (
        valid.withWatermark("event_time", f"{CONFIG.watermark_seconds} seconds")
        .groupBy(
            "level",
            F.session_window("event_time", "3 seconds").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "level",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
