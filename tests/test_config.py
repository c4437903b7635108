"""The dashboard path's constants are fixed (config.CONFIG), not settable.

The DuckDB twins hard-code the reference's thresholds and rounding, so a
settable parameter on the dashboard path could only make the engine and
its oracle disagree. These checks need no Spark session.
"""

from __future__ import annotations

import importlib
import inspect
import pkgutil
import types

import big_data_streaming_dashboard_spark as pkg
from big_data_streaming_dashboard_spark.session import driver_memory

# callable -> parameters that had one value in use and are now fixed;
# ``cfg`` (the old PipelineConfig pass-through) is refused everywhere
_REMOVED = {
    "alerts_ws": {"threshold"},
    "alert_candidates": {"threshold"},
    "severity_map": {"threshold"},
    "active_alerts": {"max_alerts"},
    "alert_cooldown": {"order_col"},
    "rolling_stats": {"order_col"},
    "grid_cluster": {"cell_deg"},
    "recent_points": {"ts_col", "tiebreak_col"},
    "first_occurrence_dedup": {"key_cols", "order_col"},
    "drop_heartbeats": {"type_col"},
    "with_observed_metrics": {"name"},
    "session_stream": {"gap_seconds"},
    "critical_context_stream": {"context_seconds"},
    "full_stream": {"bounded_state"},
    "stream_parquet_bronze_dynamic": {"base_files_per_trigger"},
    "read_playback_config": {"default_speed"},
}

_STREAMING = ("pipeline", "serving", "stateful", "joins", "metrics", "sinks")


def _dashboard_modules():
    names = [f"{pkg.__name__}.streaming.{m}" for m in _STREAMING]
    for sub in ("functions", "operators", "sources"):
        p = importlib.import_module(f"{pkg.__name__}.{sub}")
        names += [f"{p.__name__}.{m.name}" for m in pkgutil.iter_modules(p.__path__)]
    return [importlib.import_module(n) for n in names]


def _public_callables(mod):
    for attr, obj in vars(mod).items():
        if attr.startswith("_") or not callable(obj):
            continue
        if getattr(obj, "__module__", None) == mod.__name__:
            yield attr, obj


def _offenders(modules) -> list[str]:
    bad = []
    for mod in modules:
        for attr, obj in _public_callables(mod):
            fixed = {"cfg"} | _REMOVED.get(attr, set())
            for p in inspect.signature(obj).parameters:
                if p in fixed:
                    bad.append(f"{mod.__name__}.{attr}({p})")
    return bad


def test_dashboard_callables_take_no_fixed_parameters():
    modules = _dashboard_modules()
    seen = {attr for m in modules for attr, _ in _public_callables(m)}
    # the walk reaches every callable this guard is about
    assert set(_REMOVED) | {"level3", "validate_enrich", "DashboardState"} <= seen
    assert _offenders(modules) == []


def test_fixed_parameter_guard_flags_an_offender():
    mod = types.ModuleType("fake_dashboard")

    def grid_cluster(points, cell_deg=1.0):
        return points

    def level3(value, cfg=None):
        return value

    def silver_stream(bronze, bounded_state=True):
        return bronze

    for fn in (grid_cluster, level3, silver_stream):
        fn.__module__ = mod.__name__
        setattr(mod, fn.__name__, fn)
    assert _offenders([mod]) == [
        "fake_dashboard.grid_cluster(cell_deg)",
        "fake_dashboard.level3(cfg)",
    ]


def test_dashboard_state_exposes_what_the_live_probe_reads():
    """perfbench/live.py checks the snapshot against
    ``state.cfg.retention_points`` and reads ``recent``/``stats``."""
    from big_data_streaming_dashboard_spark.streaming.serving import DashboardState

    state = DashboardState()
    assert state.cfg.retention_points == 2000
    assert state.recent == []
    assert state.stats == {}


def test_driver_memory_env_override_wins():
    assert driver_memory("5g", 64 * 2**30) == "5g"


def test_driver_memory_defaults_to_half_of_physical_capped_at_16g():
    assert driver_memory(None, 15 * 2**30) == f"{15 * 1024 // 2}m"
    assert driver_memory("", 8 * 2**30) == "4096m"
    assert driver_memory(None, 64 * 2**30) == "16384m"
