"""replay_backlog: closed-loop backlog drain through the full dataflow.

Seeded bronze files of 25,000 readings (Zipf-skewed sensors, ~3% dirt
covering every rejection reason, ~2% exact duplicates, disorder inside
the 5 s watermark and ~0.5% readings beyond it) are drained one file
per trigger by ``streaming.pipeline.full_stream`` into
``streaming.sinks.route_foreach_batch`` with noop route writers, under
an ``availableNow`` trigger.

The first trigger of the measured query is query start and is not
timed; two one-row sentinel files far in event time follow the timed
files so the watermark releases every held window before the query
ends, and the sink totals can be checked against the ledger exactly.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

import gen
from big_data_streaming_dashboard_spark.operators import validate_enrich
from big_data_streaming_dashboard_spark.sources import stream_parquet_bronze
from big_data_streaming_dashboard_spark.sources.streams import BRONZE_STREAM_SCHEMA
from big_data_streaming_dashboard_spark.streaming.pipeline import full_stream
from big_data_streaming_dashboard_spark.streaming.sinks import route_foreach_batch
from harness import NullTracer, Run, data_triggers, median, pipeline_layer, query_jobs, trigger_spans

ROWS_PER_FILE = 25_000
SPAN_S = 10  # event-time seconds each file covers
T0 = 1_700_000_000
# timed files per measured second, sized so a drain lasts about
# --seconds at ~12.5k rec/s on 4 cores
FILES_PER_SECOND = 0.5
# the drain starts with files from another seed: query start and JIT
# warm-up, not timed. One full-size file warms the per-record paths;
# the small ones warm the per-trigger paths (planning, state commit,
# job scheduling), which need many triggers rather than many rows.
WARM_SEED_OFFSET = 7919
WARM_FILES = 5
WARM_SMALL_ROWS = 2000
MTIME0 = 1_000_000_000


def write_inputs(
    src: str, seed: int, n_warm: int, n_timed: int, rows: int = ROWS_PER_FILE
) -> list[list[gen.Record]]:
    """Write ``n_warm`` files from the warm-up seed, then ``n_timed``
    from ``seed``, on one event clock, then two sentinels; mtimes
    increase strictly, which is the file source's processing order."""
    os.makedirs(src)
    parts = [np.random.default_rng(seed + WARM_SEED_OFFSET), np.random.default_rng(seed)]
    sensors = [gen.Sensors(r) for r in parts]
    files = []
    for k in range(n_warm + n_timed):
        i = int(k >= n_warm)
        t = T0 + k * SPAN_S
        recs = gen.make_file(
            parts[i], sensors[i], k, rows if k == 0 or k >= n_warm else min(rows, WARM_SMALL_ROWS),
            t, SPAN_S, t * 1000,
            dirt_share=0.03, dup_share=0.02, late_share=0.005, critical_share=0.01,
        )
        gen.write_parquet(recs, os.path.join(src, f"part-{k:04d}.parquet"), MTIME0 + k)
        files.append(recs)
    n = len(files)
    far = T0 + n * SPAN_S + 86_400
    for j in range(2):
        k = n + j
        rec = gen.Record(k * gen.ID_STRIDE, gen.timestamp_text(far), f"{j}.50", "0.50", "42.00", "cpm", far * 1000, far)
        gen.write_parquet([rec], os.path.join(src, f"part-{k:04d}.parquet"), MTIME0 + k)
    return files


class RouteCounter:
    """Noop route writer that counts the rows it writes through an
    Observation (no extra pass over the batch)."""

    def __init__(self, run: Run) -> None:
        self.run = run
        self.counts = {"normal": 0, "critical": 0, "dirty": 0}
        self._n = 0

    def __call__(self, name: str, df, epoch_id: int) -> None:
        self._n += 1
        obs = Observation(f"route_{self._n}")
        with self.run.tracer.span(f"sinks.write.{name}", epoch_id):
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        self.counts[name] += int(obs.get["n"])


def drain(run: Run, src: str):
    """Run full_stream over ``src`` to completion; returns the query,
    its data triggers and the route totals."""
    writer = RouteCounter(run)
    route_fn = route_foreach_batch(writer)
    tracer = run.tracer

    def sink(batch, epoch_id):
        with tracer.span("sinks.route_foreach_batch", epoch_id):
            route_fn(batch, epoch_id)

    ck = src + "-checkpoint"
    if os.path.exists(ck):
        raise RuntimeError(f"checkpoint {ck} exists: a reused checkpoint resumes and reads nothing")
    q = (
        full_stream(stream_parquet_bronze(run.spark, src))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    err = q.exception()
    run.check(err is None and not q.isActive, f"replay query ended with {err!r}")
    if q.isActive:
        q.stop()
    return q, data_triggers(q), writer.counts


def timed_metrics(timed) -> dict[str, float]:
    wall = timed[-1].end - timed[0].start
    return {
        "throughput_rps": sum(t.rows for t in timed) / wall,
        "latency_ms_p50": median([t.total_ms for t in timed]),
    }


def check_drain(run: Run, files, triggers, counts, tag: str) -> None:
    led = gen.replay_ledger(files)
    run.check(len(triggers) == len(files) + 2, f"{tag}: {len(triggers)} data triggers for {len(files)} files + 2 sentinels")
    processed = sum(t.rows for t in triggers)
    run.check(processed == led.generated + 2, f"{tag}: rows processed {processed} != generated {led.generated} + 2 sentinels")
    run.check(counts["dirty"] == led.dirty, f"{tag}: dirty {counts['dirty']} != ledger {led.dirty}")
    run.check(counts["critical"] == led.critical, f"{tag}: critical {counts['critical']} != ledger {led.critical}")
    run.check(counts["normal"] == led.normal, f"{tag}: normal {counts['normal']} != ledger {led.normal}")
    routed = sum(counts.values())
    run.check(
        routed + led.duplicates + led.late == led.generated,
        f"{tag}: routes {routed} + duplicates {led.duplicates} + late {led.late} != generated {led.generated}",
    )
    dropped = sum(o.get("numRowsDroppedByWatermark", 0) for t in triggers for o in t.state_ops)
    run.check((dropped > 0) == (led.late > 0), f"{tag}: watermark drops {dropped} but ledger late {led.late}")


# validator error text -> generator dirt kind
_REASONS = {
    "Missing fields": ("missing",),
    "Invalid numeric values": ("nonnumeric_lat", "nonnumeric_lon", "nonnumeric_value"),
    "Invalid latitude": ("lat_range",),
    "Invalid longitude": ("lon_range",),
    "Invalid radiation value": ("value_nonpositive",),
    "Invalid unit": ("bad_unit",),
}


def validate_census(run: Run, src: str, files, first: int, time_it: bool) -> None:
    """Batch ``operators.validate_enrich`` over the timed files (from
    index ``first``): the rejections per reason must equal the dirt the
    generator injected. Traced runs also time the validator (noop
    write, median of 3)."""
    paths = [os.path.join(src, f"part-{k:04d}.parquet") for k in range(first, len(files))]
    silver = validate_enrich(run.spark.read.schema(BRONZE_STREAM_SCHEMA).parquet(*paths))
    led = gen.replay_ledger(files[first:])
    if time_it:
        ms = []
        for _ in range(3):
            with run.tracer.span("operators.validate_enrich") as sp:
                silver.write.format("noop").mode("overwrite").save()
            ms.append((sp.end - sp.start) * 1000.0)
        run.layer["operators.validate_ms_per_100k"] = median(ms) * 100_000 / led.generated
    got = {
        r["reason"]: r["n"]
        for r in silver.filter(F.col("status") == "invalid")
        .groupBy(F.regexp_extract("error", r"^[^:]*", 0).alias("reason"))
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    want = {k: sum(led.dirt_by_kind.get(x, 0) for x in kinds) for k, kinds in _REASONS.items()}
    want = {k: v for k, v in want.items() if v}
    run.check(got == want, f"validator rejections {got} != injected {want}")
    run.check(sum(got.values()) == led.dirt_injected, "dirty total != injected")


def measured_drain(run: Run, tag: str, n_warm: int, n_timed: int):
    """Fresh inputs and checkpoint, one drain, checked; returns the
    query, its timed triggers, the files and the source directory."""
    src = run.path(tag)
    files = write_inputs(src, run.seed, n_warm, n_timed)
    q, triggers, counts = drain(run, src)
    check_drain(run, files, triggers, counts, tag)
    timed = triggers[n_warm : n_warm + n_timed]
    run.attempted += n_timed
    run.failed += n_timed - len(timed)
    run.note(f"{tag}: trigger ms {[t.total_ms for t in triggers]}")
    return q, timed, files, src


def run_replay(run: Run) -> dict[str, float]:
    n_timed = max(3, int(round(run.seconds * FILES_PER_SECOND)))
    # the end-to-end drain is never traced; a traced run adds a second one
    real_tracer, run.tracer = run.tracer, NullTracer()
    run.start_session()
    run.note("session started")
    q, timed, files, src = measured_drain(run, "bronze", WARM_FILES, n_timed)
    if not timed:
        raise RuntimeError("no timed trigger completed")
    e2e = {"setup_s": timed[0].start - run.t_process, **timed_metrics(timed)}
    if not run.trace:
        validate_census(run, src, files, WARM_FILES, time_it=False)
        return e2e

    run.tracer = real_tracer
    # the JVM is warm by now: two warm-up files cover the new query's start
    q2, timed2, files2, src2 = measured_drain(run, "bronze-traced", 2, n_timed)
    mt = timed_metrics(timed2)
    trigger_spans(run.tracer, data_triggers(q2), "pipeline")
    layer = pipeline_layer(timed2)
    layer["pipeline.jobs_per_trigger"] = query_jobs(run.spark, q2) / (len(files2) + 2)
    run.layer.update(layer)
    run.layer["sources.backlog_files_max"] = float(len(files2) + 2)
    run.layer["sinks.route_ms_p50"] = median(run.tracer.durations_ms("sinks.route_foreach_batch"))
    run.layer["replay.batch_ms_p50"] = mt["latency_ms_p50"]
    run.layer["trace.latency_overhead_ms"] = mt["latency_ms_p50"] - e2e["latency_ms_p50"]
    run.layer["trace.throughput_overhead_rps"] = mt["throughput_rps"] - e2e["throughput_rps"]
    validate_census(run, src2, files2, 2, time_it=True)
    run.layer["session.peak_rss_mb"] = run.peak_rss_mb()
    run.layer["replay.local1_throughput_rps"] = local1_throughput(run)
    return e2e


def local1_throughput(run: Run) -> float:
    """Single-threaded baseline: the same drain on ``local[1]``, one
    warm-up file then two timed files."""
    run.stop_session()
    run.start_session(cpus=1)
    _, timed, _, _ = measured_drain(run, "bronze-local1", 1, 2)
    return timed_metrics(timed)["throughput_rps"] if timed else 0.0
