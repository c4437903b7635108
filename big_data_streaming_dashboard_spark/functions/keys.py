"""Composite dedup/partition key (SURVEY.md S5/D1).

The reference keys records by
``round(lat,5)|round(lon,5)|round(value,2)|captured_time|unit``
(data_provider/data_provider.py:134-149; flink_process dedup selector
:248-263), with a shared fallback key when numeric parsing fails --
meaning only the FIRST unparseable record ever survives dedup (a real
quirk we reproduce).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import CONFIG

INVALID_KEY = "invalid_key"


def _num(col: Column, decimals: int) -> Column:
    # Python round() is banker's rounding -> bround for exact parity
    # (and it matches DuckDB round_even in the oracle SQL).
    return F.bround(col.try_cast("double"), decimals).cast("string")


def dedup_key(
    lat: Column,
    lon: Column,
    value: Column,
    captured_time: Column,
    unit: Column,
) -> Column:
    """Composite key; INVALID_KEY when any numeric field fails to parse."""
    parsed_ok = (
        lat.try_cast("double").isNotNull()
        & lon.try_cast("double").isNotNull()
        & value.try_cast("double").isNotNull()
    )
    key = F.concat_ws(
        "|",
        _num(lat, CONFIG.coord_decimals),
        _num(lon, CONFIG.coord_decimals),
        _num(value, CONFIG.value_decimals),
        F.coalesce(captured_time, F.lit("")),
        F.coalesce(unit, F.lit("")),
    )
    return F.when(parsed_ok, key).otherwise(F.lit(INVALID_KEY))
