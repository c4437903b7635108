from .metrics import IngestMetricsListener, with_observed_metrics
from .pipeline import silver_stream
from .serving import DashboardState, drop_heartbeats, priority_tag
from .sinks import route_foreach_batch
from .stateful import exact_cooldown_batch, exact_cooldown_stream

__all__ = [
    "DashboardState",
    "IngestMetricsListener",
    "drop_heartbeats",
    "exact_cooldown_batch",
    "exact_cooldown_stream",
    "priority_tag",
    "route_foreach_batch",
    "silver_stream",
    "with_observed_metrics",
]
