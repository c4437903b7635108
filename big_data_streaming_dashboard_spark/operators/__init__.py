from .validate import validate_enrich
from .dedup import first_occurrence_dedup
from .route import route
from .temporal import temporal_batch, union_with_invalid
from .analytics import (
    geojson_features,
    grid_cluster,
    level_filter,
    recent_points,
    rolling_stats,
)
from .alerts import active_alerts, alert_candidates, alert_cooldown, alerts_ws
from .pipeline import batch_pipeline
from .skew import salted_aggregate, salted_broadcast_left

__all__ = [
    "active_alerts",
    "alert_candidates",
    "alert_cooldown",
    "alerts_ws",
    "batch_pipeline",
    "first_occurrence_dedup",
    "geojson_features",
    "grid_cluster",
    "level_filter",
    "recent_points",
    "rolling_stats",
    "route",
    "salted_aggregate",
    "salted_broadcast_left",
    "temporal_batch",
    "union_with_invalid",
    "validate_enrich",
]
