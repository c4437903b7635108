"""gold_refresh: one client refreshing the dashboard's nine gold views.

Each refresh cycle builds and runs, through the driver contract
``queries()``, the nine read-only views the dashboard shows, each
materialized with the noop writer. The views read the persisted silver
and dedup stages of ``plans.registry`` over a seeded ``events`` table
shaped like the sf0.1 fixture (100,000 rows), so the cycle exercises
plan construction and the batch ``operators`` without any streaming
layer.
"""

from __future__ import annotations

import importlib
import os
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
import live
from big_data_streaming_dashboard_spark import tables
from big_data_streaming_dashboard_spark.plans import registry
from harness import NullTracer, Run, median

VIEWS = (
    "rolling_stats",
    "grid_cluster",
    "recent_points",
    "alerts_cooldown",
    "route_counts",
    "temporal_batch_annotate",
    "level_filter_high",
    "geojson_features",
    "severity_ws_counts",
)
N_EVENTS = 100_000
WARM_SEED_OFFSET = 7919
# warm-up: cycles over a small table from another seed (the cycle cost
# is mostly per-query fixed cost, which needs repetitions to warm)
WARM_EVENTS = N_EVENTS
WARM_CYCLES = 3


def _contract():
    """The repository's driver contract module (``__spark_entry__``)."""
    return importlib.import_module("__spark_entry__")


def write_events(sf_dir: str, seed: int, n: int = N_EVENTS) -> None:
    os.makedirs(sf_dir)
    pq.write_table(gen.events_table(seed, n), os.path.join(sf_dir, "events.parquet"))


def materialize_silver(run: Run, sf_dir: str) -> float:
    """Build the bronze view (``tables.bronze_radiation``) and fill the
    persisted silver stage; returns seconds."""
    q = _contract().queries()
    t = time.time()
    tables.bronze_radiation(run.spark, sf_dir)
    q["silver_validate"](run.spark, sf_dir).count()
    return time.time() - t


def cycle(run: Run, sf_dir: str, n: int) -> tuple[float, dict[str, int], dict[str, float], float]:
    """One refresh: build then run each view. Returns the cycle wall
    time (s), rows per view, run time per view (ms) and summed build
    time (ms)."""
    q = _contract().queries()
    rows, exec_ms, build_ms = {}, {}, 0.0
    t0 = time.time()
    with run.tracer.span("gold.cycle", n):
        for name in VIEWS:
            with run.tracer.span("plans.build", n) as b:
                tb = time.time()
                df = q[name](run.spark, sf_dir)
                te = time.time()
            obs = Observation(f"{name}_{n}")
            with run.tracer.span(f"plans.exec.{name}", n):
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
                rows[name] = int(obs.get["n"])
            exec_ms[name] = (time.time() - te) * 1000.0
            build_ms += (te - tb) * 1000.0
    return time.time() - t0, rows, exec_ms, build_ms


def oracle_rows(sf_dir: str) -> dict[str, int]:
    """Row count of each view's DuckDB ``oracle_sql()`` twin."""
    sql = _contract().oracle_sql()
    con = duckdb.connect()
    try:
        path = os.path.join(sf_dir, "events.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        return {v: con.execute(f"SELECT count(*) FROM ({sql[v]})").fetchone()[0] for v in VIEWS}
    finally:
        con.close()


def check_oracle(run: Run, first_rows: dict[str, int], want: dict[str, int]) -> None:
    for v in VIEWS:
        run.check(first_rows[v] == want[v], f"{v}: {first_rows[v]} rows, DuckDB oracle {want[v]}")


def timed_cycles(run: Run, sf_dir: str, first_n: int, first_rows: dict[str, int]) -> tuple[list, float, float]:
    """Refresh cycles back to back for --seconds (the cycle in flight
    at the deadline completes); each cycle must return the first
    cycle's row counts."""
    t_first = time.time()
    deadline = t_first + run.seconds
    cycles = []
    while not cycles or time.time() < deadline:
        cycles.append(cycle(run, sf_dir, first_n + len(cycles)))
    wall = time.time() - t_first
    for n, (_, rows, _, _) in enumerate(cycles, first_n):
        run.check(rows == first_rows, f"cycle {n} rows {rows} != first cycle {first_rows}")
    run.note(f"cycles ms {[round(c[0] * 1000) for c in cycles]}")
    return cycles, wall, t_first


def e2e_of(cycles, wall: float) -> dict[str, float]:
    return {
        "throughput_rps": N_EVENTS * len(cycles) / wall,
        "latency_ms_p50": median([c[0] * 1000.0 for c in cycles]),
    }


def run_gold(run: Run) -> dict[str, float]:
    real_tracer, run.tracer = run.tracer, NullTracer()
    run.start_session()
    run.note("session started")
    warm = run.path("gold-warm")
    write_events(warm, run.seed + WARM_SEED_OFFSET, WARM_EVENTS)
    sf_dir = run.path("gold")
    write_events(sf_dir, run.seed)
    materialize_silver(run, warm)
    for i in range(WARM_CYCLES):
        run.note(f"warm cycle {cycle(run, warm, -1 - i)[0]:.2f}s")
    # release the warm-up table's cached stages: the measured cycles run
    # with only the measured table cached, as a dashboard process would
    registry.clear_engine_caches()
    run.layer["tables.silver_materialize_s"] = materialize_silver(run, sf_dir)
    # cycle 0 fills the persisted dedup stage of the measured input
    _, first_rows, _, _ = cycle(run, sf_dir, 0)
    run.note("set up")

    cycles, wall, t_first = timed_cycles(run, sf_dir, 1, first_rows)
    check_oracle(run, first_rows, oracle_rows(sf_dir))
    e2e = {"setup_s": t_first - run.t_process, **e2e_of(cycles, wall)}
    if not run.trace:
        return e2e

    run.tracer = real_tracer
    cycles_t, wall_t, _ = timed_cycles(run, sf_dir, 1 + len(cycles), first_rows)
    et = e2e_of(cycles_t, wall_t)
    run.layer["gold.refresh_ms_p50"] = et["latency_ms_p50"]
    run.layer["plans.build_ms_per_cycle"] = median([c[3] for c in cycles_t])
    for v in VIEWS:
        run.layer[f"plans.exec_ms.{v}"] = median([c[2][v] for c in cycles_t])
    run.layer["trace.latency_overhead_ms"] = et["latency_ms_p50"] - e2e["latency_ms_p50"]
    run.layer["trace.throughput_overhead_rps"] = et["throughput_rps"] - e2e["throughput_rps"]
    run.layer["session.peak_rss_mb"] = run.peak_rss_mb()
    live.probe(run)
    return e2e
