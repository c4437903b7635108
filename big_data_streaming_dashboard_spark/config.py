"""The reference's pipeline constants, fixed.

Mirrors the reference's effective config values (several config.ini keys
in the reference are misnamed and never read, so the code defaults are
what actually runs -- SURVEY.md section 2.5 W2/W4). The DuckDB twins in
``plans/fragments.py`` hard-code the same numbers, so nothing here is
settable: ``CONFIG`` is the one frozen instance and every reader uses it
directly.

- level thresholds low=50 / moderate=200 (flink_process/config.ini:18-20)
- danger/critical threshold 1000.0 (flink_process/flink_process.py:148)
- temporal window 1 s, watermark 5 s (flink_process/flink_process.py:241,314);
  temporal ordering (W6) always on, the reference's ENABLE_TEMPORAL_ORDERING
  default (flink_process/config.ini:40)
- client 5-bucket levels at 10/50/200/1000 (front_end/src/utils/mapStyles.js:25-32)
- alert defaults: threshold 1000, cooldown 30 s, 3-dp location key,
  retention 2000 points (front_end/src App.jsx:14, useAlertManager.js:19-29,
  MapView.jsx:86)
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PipelineConfig:
    # server-side 3-bucket classification (P5) + critical flag (P6)
    low_threshold: float = 50.0
    moderate_threshold: float = 200.0
    danger_threshold: float = 1000.0

    # client-side 5-bucket classification (P9)
    level5_very_low: float = 10.0
    level5_low: float = 50.0
    level5_moderate: float = 200.0
    level5_high: float = 1000.0

    # event-time semantics (W2/W4)
    temporal_window_seconds: int = 1
    watermark_seconds: int = 5

    # alerting (F8/P10/D2/W8)
    alert_threshold: float = 1000.0
    alert_cooldown_seconds: int = 30
    alert_location_decimals: int = 3
    retention_points: int = 2000

    # dedup key precision (S5/D1)
    coord_decimals: int = 5
    value_decimals: int = 2

    # grid clustering (A2) cell size in degrees at default zoom
    cluster_cell_deg: float = 1.0


CONFIG = PipelineConfig()
