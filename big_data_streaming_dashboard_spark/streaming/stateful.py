"""Keyed-state operators (SURVEY.md D2/W11 -- the alert cooldown).

The reference suppresses repeat alerts within 30 s (wall-clock) of the
last EMITTED alert per (severity, 3-dp location) key
(front_end/src/hooks/useAlertManager.js:12-29). That last-emit
dependency is inherently sequential per key: an alert 29 s after a
*suppressed* alert is still emitted if it is >= 30 s after the last
emitted one -- a tumbling-bucket approximation (operators/alerts.py)
gets exactly that case wrong.

Batch form: ``applyInPandas`` per cooldown key -- sort by event time,
linear scan carrying last-emit. Keys partition the work, the per-key
scan is O(rows-in-key); at 100 TB the shuffle is on the cooldown key
(bounded cardinality: severity x 3-dp grid), so skew is the thing to
watch -- the key space is fine-grained enough in practice (millions of
cells), and AQE skew handling covers hot cells.

Streaming form: ``applyInPandasWithState`` keeps last-emit per key in
the state store across micro-batches (GroupState timeout NoTimeout --
the reference's state never expires either).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import CONFIG

_OUT_FIELDS = [
    ("cooldown_key", T.StringType()),
    ("event_id", T.LongType()),
    ("event_time", T.TimestampType()),
    ("lat", T.DoubleType()),
    ("lon", T.DoubleType()),
    ("value", T.LongType()),
    ("severity", T.StringType()),
    ("alert_message", T.StringType()),
]
COOLDOWN_OUTPUT_SCHEMA = T.StructType(
    [T.StructField(n, t, True) for n, t in _OUT_FIELDS]
)
_STATE_SCHEMA = T.StructType([T.StructField("last_emit_epoch", T.DoubleType(), True)])

_COLS = [n for n, _ in _OUT_FIELDS]


# NB: the UDF closures below must be SELF-CONTAINED (locals + pandas
# only). cloudpickle serializes references to this module's globals
# by module path, and Spark's Python workers do not necessarily have
# this repo on their PYTHONPATH (the driver imports __spark_entry__ by
# file path) -- a module-level helper reference crashes the worker
# with ModuleNotFoundError. Constants such as the cooldown length are
# read on the driver and passed in by value.


def _make_scan(cooldown_s: float):
    def scan(pdf: pd.DataFrame, last_emit):
        pdf = pdf.sort_values(["event_time", "event_id"], kind="mergesort")
        epochs = pdf["event_time"].astype("int64") / 1e9
        keep = []
        for i, ts in enumerate(epochs):
            if last_emit is None or ts - last_emit >= cooldown_s:
                keep.append(i)
                last_emit = ts
        return pdf.iloc[keep], last_emit

    return scan


def exact_cooldown_batch(candidates: DataFrame) -> DataFrame:
    """Batch exact cooldown: first alert per key, then >= 30 s after the
    previous EMITTED alert (reference-faithful, unlike the bucketed
    approximation in operators/alerts.py)."""
    scan = _make_scan(float(CONFIG.alert_cooldown_seconds))
    cols = list(_COLS)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out, _ = scan(pdf, None)
        return out[cols]

    return (
        candidates.select(*_COLS)
        .groupBy("cooldown_key")
        .applyInPandas(fn, schema=COOLDOWN_OUTPUT_SCHEMA)
    )


def exact_cooldown_stream(candidates: DataFrame) -> DataFrame:
    """Streaming exact cooldown: last-emit carried across micro-batches
    in the state store (applyInPandasWithState)."""
    scan = _make_scan(float(CONFIG.alert_cooldown_seconds))
    cols = list(_COLS)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_emit = state.get[0] if state.exists else None
        batch = pd.concat(list(pdfs))
        out, last_emit = scan(batch, last_emit)
        if last_emit is not None:
            state.update((float(last_emit),))
        yield out[cols]

    return (
        candidates.select(*_COLS)
        .groupBy("cooldown_key")
        .applyInPandasWithState(
            fn,
            outputStructType=COOLDOWN_OUTPUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

