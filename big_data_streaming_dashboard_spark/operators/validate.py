"""Single-pass validate + enrich (SURVEY.md F1, F2, P2-P8).

Re-expresses the reference's ``RadiationDataProcessor.map``
(flink_process/flink_process.py:93-176) as ONE declarative ``select`` --
Catalyst fuses the whole thing into a single whole-stage-codegen loop,
the columnar analog of the reference's hand-fused "single-pass" map.

Semantics preserved exactly (checks in the reference's order, same error
strings, classification on the *rounded* value, Python banker's rounding
via ``F.bround``):

1. missing required field            -> "Missing fields"
2. lat/lon/value fail float()        -> "Invalid numeric values"
3. lat outside [-90, 90]             -> "Invalid latitude: {lat}"
4. lon outside [-180, 180]           -> "Invalid longitude: {lon}"
5. round(value) <= 0                 -> "Invalid radiation value: {v}"
6. lower(unit) != 'cpm'              -> "Invalid unit: {unit}"
else valid: level3 / critical flags on rounded value, coords rounded to
5 dp, canonical unit "cpm".

Documented deltas from the reference (tested, deliberate):
- invalid-record ``timestamp`` is the record's ingestion time, not
  driver wall-clock ``time.time()`` (deterministic + distributed);
- ``raw_data`` is a '|'-joined field dump, not the raw JSON string
  (bronze here is columnar; the streaming JSON path keeps the raw value).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import CONFIG
from ..functions.keys import dedup_key
from ..functions.levels import critical_flag, level3, level5
from ..functions.timeparse import normalize_event_time

REQUIRED_FIELDS = ["captured_time", "latitude", "longitude", "value", "unit"]


def _missing_any(df_cols: list[str]) -> Column:
    checks = [F.col(c).isNull() for c in REQUIRED_FIELDS if c in df_cols]
    # a field absent from the schema entirely counts as missing
    absent = [c for c in REQUIRED_FIELDS if c not in df_cols]
    if absent:
        return F.lit(True)
    out = checks[0]
    for c in checks[1:]:
        out = out | c
    return out


# Column-expression cache: building the validator tree costs ~0.4 s of
# py4j round trips, and a dozen queries build it per bench run. Column
# objects are unresolved/immutable and safely reusable across selects;
# the cache key carries the SparkContext id (a restarted context
# invalidates JVM-side expression objects) and the schema subset the
# tree depends on.
_COLS_CACHE: dict = {}


def validate_enrich(bronze: DataFrame) -> DataFrame:
    """Bronze (stringly) -> silver: status/error + enriched columns.

    Output columns: event_id (if present), status, error, timestamp
    (raw string), event_time (parsed), lat, lon, value (long), unit,
    level, level5, critical, dedup_key, raw_data, ingestion_timestamp.
    """
    key = (
        id(bronze.sparkSession.sparkContext),
        tuple(
            c
            for c in ("event_id", "ingestion_timestamp", *REQUIRED_FIELDS)
            if c in bronze.columns
        ),
    )
    cols = _COLS_CACHE.get(key)
    if cols is None:
        cols = _COLS_CACHE[key] = _validator_columns(bronze.columns)
    return bronze.select(*cols)


def _validator_columns(bronze_columns: list[str]) -> list[Column]:
    lat_d = F.col("latitude").try_cast("double")
    lon_d = F.col("longitude").try_cast("double")
    val_d = F.col("value").try_cast("double")
    # Python round() is banker's rounding -> bround for exact parity
    rval = F.bround(val_d).cast("long")

    error = (
        F.when(_missing_any(bronze_columns), "Missing fields")
        .when(lat_d.isNull() | lon_d.isNull() | val_d.isNull(), "Invalid numeric values")
        .when(
            (lat_d < -90) | (lat_d > 90),
            F.concat(F.lit("Invalid latitude: "), lat_d.cast("string")),
        )
        .when(
            (lon_d < -180) | (lon_d > 180),
            F.concat(F.lit("Invalid longitude: "), lon_d.cast("string")),
        )
        .when(rval <= 0, F.concat(F.lit("Invalid radiation value: "), rval.cast("string")))
        .when(
            F.lower(F.col("unit")) != "cpm",
            F.concat(F.lit("Invalid unit: "), F.col("unit")),
        )
        .otherwise(F.lit(None).cast("string"))
    )

    passthrough = [c for c in ("event_id", "ingestion_timestamp") if c in bronze_columns]
    valid = error.isNull()
    return [
        *[F.col(c) for c in passthrough],
        F.when(valid, "valid").otherwise("invalid").alias("status"),
        error.alias("error"),
        F.when(valid, F.col("captured_time")).alias("timestamp"),
        F.when(valid, normalize_event_time(F.col("captured_time"))).alias("event_time"),
        F.when(valid, F.bround(lat_d, CONFIG.coord_decimals)).alias("lat"),
        F.when(valid, F.bround(lon_d, CONFIG.coord_decimals)).alias("lon"),
        F.when(valid, rval).alias("value"),
        F.when(valid, F.lit("cpm")).alias("unit"),
        F.when(valid, level3(rval)).alias("level"),
        F.when(valid, level5(rval)).alias("level5"),
        F.when(valid, critical_flag(rval)).alias("critical"),
        dedup_key(
            F.col("latitude"),
            F.col("longitude"),
            F.col("value"),
            F.col("captured_time"),
            F.col("unit"),
        ).alias("dedup_key"),
        F.when(
            ~valid,
            F.concat_ws(
                "|",
                *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in REQUIRED_FIELDS],
            ),
        ).alias("raw_data"),
    ]
