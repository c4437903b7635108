"""Classification expressions (SURVEY.md P5, P6, P9, P10).

All are pure ``Column -> Column`` builders over built-in functions --
JVM-side, whole-stage-codegen'd, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import CONFIG


def level3(value: Column) -> Column:
    """Server-side 3-bucket level (flink_process/flink_process.py:140-145)."""
    return (
        F.when(value < CONFIG.low_threshold, "low")
        .when(value < CONFIG.moderate_threshold, "moderate")
        .otherwise("high")
    )


def level5(value: Column) -> Column:
    """Client-side 5-bucket level (front_end/src/utils/mapStyles.js:25-32).

    Deliberately disagrees with level3 (5 buckets; null -> very-low), as
    the reference's two classifiers do -- we expose both.
    """
    return (
        F.when(value >= CONFIG.level5_high, "very-high")
        .when(value >= CONFIG.level5_moderate, "high")
        .when(value >= CONFIG.level5_low, "moderate")
        .when(value >= CONFIG.level5_very_low, "low")
        .otherwise("very-low")
    )


def critical_flag(value: Column) -> Column:
    """value >= danger threshold (flink_process/flink_process.py:148)."""
    return value >= F.lit(CONFIG.danger_threshold)


def severity_ws(value: Column) -> Column:
    """Alert severity, useWebsocket variant (useWebsocket.js:61-66)."""
    return (
        F.when(value >= 100.0, "critical")
        .when(value >= 50.0, "warning")
        .otherwise("info")
    )


def severity_map(value: Column) -> Column:
    """Alert severity, MapView variant (MapView.jsx:94): >= 2*threshold."""
    return F.when(value >= 2.0 * CONFIG.alert_threshold, "critical").otherwise("warning")
