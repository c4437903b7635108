"""Structured Streaming semantics tests (SURVEY.md section 5 tier 4).

Drives the SAME operators used in batch through micro-batch replay
(file source, multiple files per trigger boundary) and checks
agreement with the batch results: dedup across batches, windowed
temporal counts and annotation, 3-way routed foreachBatch fan-out,
stateful cooldown across micro-batches."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from big_data_streaming_dashboard_spark.operators.dedup import first_occurrence_dedup
from big_data_streaming_dashboard_spark.operators.route import ROUTES
from big_data_streaming_dashboard_spark.operators.temporal import temporal_batch
from big_data_streaming_dashboard_spark.operators.validate import validate_enrich
from big_data_streaming_dashboard_spark.sources.streams import stream_parquet_bronze
from big_data_streaming_dashboard_spark.streaming.pipeline import silver_stream
from big_data_streaming_dashboard_spark.streaming.sinks import route_foreach_batch
from big_data_streaming_dashboard_spark.streaming.stateful import (
    COOLDOWN_OUTPUT_SCHEMA,
    exact_cooldown_stream,
)
from big_data_streaming_dashboard_spark.tables import bronze_radiation

from .conftest import run_stream

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bronze_dir(spark, tmp_path_factory):
    """Bronze fixture split into 4 TIME-ORDERED parquet files (-> 4
    in-order micro-batches, like the reference's chunk-sorted replay,
    S2). Random file assignment would scatter event time across
    batches and the 5 s watermark would late-drop most windows."""
    path = str(tmp_path_factory.mktemp("bronze_stream"))
    bronze = bronze_radiation(spark, SF).withColumn(
        "_slice", F.ntile(4).over(__import__("pyspark").sql.Window.orderBy("event_id"))
    )
    import time

    for i in range(1, 5):
        (
            bronze.filter(F.col("_slice") == i)
            .drop("_slice")
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )
        time.sleep(0.1)  # distinct mtimes: the file source replays oldest-first
    return path


def test_streaming_silver_matches_batch_dedup(spark, bronze_dir):
    """Unbounded-mode streaming dedup keeps exactly one row per key --
    the same key set as batch dedup (survivor row may differ: batch
    picks min event_id, streaming picks arrival order)."""
    stream = silver_stream(
        stream_parquet_bronze(spark, bronze_dir), bounded_state=False
    )
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    batch = first_occurrence_dedup(validate_enrich(bronze_radiation(spark, SF)))
    s_keys = sorted(r["dedup_key"] for r in got.select("dedup_key").collect())
    b_keys = sorted(r["dedup_key"] for r in batch.select("dedup_key").collect())
    assert s_keys == b_keys


def test_streaming_temporal_annotated_rows_match_batch(spark, bronze_dir):
    """Reference-faithful W4: per-record re-emission with final batch
    size equals the batch annotation for every emitted row."""
    from big_data_streaming_dashboard_spark.streaming.pipeline import (
        temporal_batch_stream_annotated,
    )

    silver = silver_stream(stream_parquet_bronze(spark, bronze_dir), bounded_state=False)
    got = run_stream(
        spark, temporal_batch_stream_annotated(silver), f"t_{uuid.uuid4().hex[:8]}"
    )
    s_rows = {
        r["event_id"]: (r["timestamp_key"], r["temporal_batch_size"], r["temporal_ordering"])
        for r in got.collect()
    }
    batch = temporal_batch(
        first_occurrence_dedup(
            validate_enrich(bronze_radiation(spark, SF))
        ).filter((F.col("status") == "valid") & F.col("event_time").isNotNull())
    )
    b_rows = {
        r["event_id"]: (r["timestamp_key"], r["temporal_batch_size"], r["temporal_ordering"])
        for r in batch.collect()
    }
    assert len(s_rows) > 0.9 * len(b_rows)  # tail windows held by watermark
    for eid, vals in s_rows.items():
        assert b_rows[eid] == vals, eid


def test_streaming_temporal_counts_match_batch(spark, bronze_dir):
    """W4 streaming window counts == batch analytic counts per second
    (for seconds fully below the final watermark all data arrived)."""
    from big_data_streaming_dashboard_spark.streaming.pipeline import (
        temporal_batch_stream_annotated,
    )

    silver = silver_stream(stream_parquet_bronze(spark, bronze_dir), bounded_state=False)
    got = run_stream(
        spark, temporal_batch_stream_annotated(silver), f"t_{uuid.uuid4().hex[:8]}"
    )
    s_counts = {
        r["timestamp_key"]: r["temporal_batch_size"]
        for r in got.select("timestamp_key", "temporal_batch_size").distinct().collect()
    }
    # a closed window re-emits every one of its records, so the number
    # of emitted rows per second is the window's count
    s_rows = {
        r["timestamp_key"]: r["n"]
        for r in got.groupBy("timestamp_key").agg(F.count("*").alias("n")).collect()
    }
    assert s_rows == s_counts
    # rows with an unparseable captured_time are 'valid' (the validator
    # never checks it -- reference-faithful) but have no event time, so
    # streaming can never window them; compare on the parseable subset
    batch = temporal_batch(
        first_occurrence_dedup(
            validate_enrich(bronze_radiation(spark, SF))
        ).filter((F.col("status") == "valid") & F.col("event_time").isNotNull())
    )
    b_counts = {
        r["timestamp_key"]: r["temporal_batch_size"]
        for r in batch.select("timestamp_key", "temporal_batch_size")
        .distinct()
        .collect()
    }
    # availableNow closes all windows at end-of-stream; every batch-side
    # second must appear with the same count
    for key, n in s_counts.items():
        assert b_counts[key] == n, key
    # seconds inside the final watermark horizon (last 5 s of event
    # time) are held in state and never emit -- everything else must
    import datetime

    missing = set(b_counts) - set(s_counts)
    fmt = "%Y-%m-%d %H:%M:%S"
    horizon = datetime.datetime.strptime(max(b_counts), fmt) - datetime.timedelta(seconds=6)
    late = [k for k in missing if datetime.datetime.strptime(k, fmt) < horizon]
    assert not late, f"unemitted windows outside the final horizon: {sorted(late)[:5]}"


def test_foreach_batch_three_way_routing(spark, bronze_dir):
    """S10: one persisted pass per micro-batch writes all three routes;
    totals across batches == batch route census."""
    collected: dict[str, int] = {name: 0 for name in ROUTES}

    def write_route(name, df, epoch_id):
        collected[name] += df.count()

    silver = silver_stream(stream_parquet_bronze(spark, bronze_dir), bounded_state=False)
    q = (
        silver.writeStream.foreachBatch(route_foreach_batch(write_route))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    from big_data_streaming_dashboard_spark.operators.route import route as batch_route

    batch = batch_route(
        first_occurrence_dedup(validate_enrich(bronze_radiation(spark, SF)))
    )
    expected = {
        r["route"]: r["n"]
        for r in batch.groupBy("route").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert collected == expected


def test_full_stream_single_job_matches_batch_pipeline(spark, bronze_dir):
    """The complete dataflow as ONE streaming query (validate -> dedup
    -> W4 annotation -> W5 union -> route) agrees with batch_pipeline
    for every emitted row; invalid rows ride the bypass with null
    temporal columns."""
    from big_data_streaming_dashboard_spark.operators.pipeline import batch_pipeline
    from big_data_streaming_dashboard_spark.streaming.pipeline import full_stream

    got = run_stream(
        spark,
        full_stream(stream_parquet_bronze(spark, bronze_dir)),
        f"t_{uuid.uuid4().hex[:8]}",
    )
    s_rows = {
        r["event_id"]: (r["route"], r["temporal_batch_size"]) for r in got.collect()
    }
    batch = batch_pipeline(bronze_radiation(spark, SF))
    b_rows = {
        r["event_id"]: (r["route"], r["temporal_batch_size"])
        for r in batch.filter(
            (F.col("status") == "invalid") | F.col("event_time").isNotNull()
        ).collect()
    }
    assert len(s_rows) > 0.9 * len(b_rows)
    dirty_emitted = sum(1 for v in s_rows.values() if v[0] == "dirty")
    assert dirty_emitted == sum(1 for v in b_rows.values() if v[0] == "dirty")
    for eid, vals in s_rows.items():
        assert b_rows[eid] == vals, eid


def _stage_files(bronze_dir, dest, first, count):
    """Copy files ``first .. first+count-1`` of the fixture, in the file
    source's processing order (oldest mtime first), into ``dest`` with
    strictly increasing mtimes that continue across calls."""
    import shutil

    files = sorted(
        (os.path.join(bronze_dir, f) for f in os.listdir(bronze_dir) if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    os.makedirs(dest, exist_ok=True)
    base = os.path.getmtime(files[0])
    for i in range(first, first + count):
        to = os.path.join(dest, os.path.basename(files[i]))
        shutil.copyfile(files[i], to)
        os.utime(to, (base + i, base + i))
    return len(files)


class _EpochRouteCollector:
    """Route writer that keeps one row count per (epoch_id, route): a
    replayed epoch overwrites its first delivery, so it counts once.
    ``kill_epoch`` makes the writer raise right after that epoch's
    first route is written, as a crash in the middle of a sink write."""

    def __init__(self, kill_epoch: int | None = None):
        self.rows: dict[tuple[int, str], int] = {}
        self.kill_epoch = kill_epoch

    def __call__(self, name, df, epoch_id):
        self.rows[(epoch_id, name)] = df.count()
        if epoch_id == self.kill_epoch and name == ROUTES[0]:
            raise RuntimeError(f"writer killed in epoch {epoch_id}")


def _drain_full_stream(spark, src, checkpoint, writer):
    """availableNow drain of ``src`` through full_stream into the routed
    foreachBatch sink; returns the terminated query."""
    from pyspark.errors import StreamingQueryException

    from big_data_streaming_dashboard_spark.streaming.pipeline import full_stream

    q = (
        full_stream(stream_parquet_bronze(spark, src))
        .writeStream.foreachBatch(route_foreach_batch(writer))
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(180)
    except StreamingQueryException:
        pass  # a killed writer; the caller inspects q.exception()
    if q.isActive:
        q.stop()
    return q


def test_session_contract_state_partitions_and_checkpoint_writer(spark, bronze_dir, tmp_path):
    """`session.get_spark` gives streaming state one store per core
    (`spark.sql.shuffle.partitions`), keeps batch plans on their seed
    (AQE's `initialPartitionNum`, which Spark's numShufflePartitions
    reads while coalescing is on) and writes checkpoints through the
    shell-free file-system manager."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import _batch_seed_partitions
    from big_data_streaming_dashboard_spark.session import get_spark

    conf = spark.conf
    initial = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    assert conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    cores = spark.sparkContext.defaultParallelism
    assert conf.get("spark.sql.shuffle.partitions") == str(cores)
    assert conf.get(initial) == "8"  # the test session's batch seed
    assert spark._jsparkSession.sessionState().conf().numShufflePartitions() == 8

    # get_spark on a running session re-applies its runtime SQL confs
    # (master and memory stay), so a 3-core request shows both roles
    # apart: 3 state partitions, batch seed max(3, 8)
    try:
        get_spark(app_name="tests", cpus=3)
        assert conf.get("spark.sql.shuffle.partitions") == "3"
        assert conf.get(initial) == "8"
        assert _batch_seed_partitions(spark) == 8
        src = str(tmp_path / "src")
        _stage_files(bronze_dir, src, 0, 2)
        q = _drain_full_stream(spark, src, str(tmp_path / "ck"), _EpochRouteCollector())
        assert q.exception() is None
        ops = [o for p in q.recentProgress for o in p["stateOperators"]]
        assert ops
        assert {o["numShufflePartitions"] for o in ops} == {3}
    finally:
        get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    assert conf.get("spark.sql.shuffle.partitions") == str(cores)


def test_full_stream_restart_from_checkpoint_matches_uninterrupted(spark, bronze_dir, tmp_path):
    """Crash and restart (Structured Streaming, SIGMOD 2018 section 6):
    drain k of N files through full_stream into the routed sink, with
    the writer killed halfway through epoch k-1's routes, then add the
    other files and restart from the same checkpoint. Epoch k-1 is
    replayed under the same epoch_id with the same rows, dedup and
    window state come back from the checkpoint, and the route totals
    equal one uninterrupted drain of all N files."""
    k = 2
    n = _stage_files(bronze_dir, str(tmp_path / "whole"), 0, 4)
    assert n == 4
    once = _EpochRouteCollector()
    q = _drain_full_stream(spark, str(tmp_path / "whole"), str(tmp_path / "ck-whole"), once)
    assert q.exception() is None

    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    _stage_files(bronze_dir, src, 0, k)
    killed = _EpochRouteCollector(kill_epoch=k - 1)
    q = _drain_full_stream(spark, src, ck, killed)
    assert q.exception() is not None
    assert (k - 1, ROUTES[0]) in killed.rows
    assert (k - 1, ROUTES[1]) not in killed.rows

    _stage_files(bronze_dir, src, k, n - k)
    resumed = _EpochRouteCollector()
    q = _drain_full_stream(spark, src, ck, resumed)
    assert q.exception() is None
    assert min(e for e, _ in resumed.rows) == k - 1  # the killed epoch, replayed
    replayed = (k - 1, ROUTES[0])
    assert resumed.rows[replayed] == killed.rows[replayed]
    # keyed by (epoch, route), the replayed delivery counts once; equal
    # per-epoch counts mean equal route totals
    delivered = {**killed.rows, **resumed.rows}
    assert delivered == once.rows
    for name in ("normal", "dirty"):
        assert sum(c for (_, r), c in delivered.items() if r == name) > 0, name


def test_stream_static_policy_enrichment(spark, bronze_dir):
    """Stream-static broadcast join: every valid row picks up its
    level's escalation policy; invalid rows pass with null policy."""
    from big_data_streaming_dashboard_spark.streaming.joins import (
        LEVEL_POLICY_ROWS,
        enrich_with_policy,
        level_policy,
    )

    silver = silver_stream(stream_parquet_bronze(spark, bronze_dir), bounded_state=False)
    enriched = enrich_with_policy(silver, level_policy(spark))
    got = run_stream(spark, enriched, f"t_{uuid.uuid4().hex[:8]}")
    rows = got.collect()
    assert len(rows) > 0
    policy = {level: (action, prio) for level, action, prio in LEVEL_POLICY_ROWS}
    for r in rows:
        if r["status"] == "valid":
            assert (r["action"], r["priority"]) == policy[r["level"]], r["event_id"]
        else:
            assert r["action"] is None and r["priority"] is None


def test_stream_stream_interval_join_matches_batch(spark, bronze_dir):
    """Stream-stream interval join (watermarked both sides) emits
    exactly the pairs the equivalent batch join produces, modulo the
    watermark-held tail."""
    from big_data_streaming_dashboard_spark.streaming.joins import (
        critical_context_stream,
    )

    bronze_a = stream_parquet_bronze(spark, bronze_dir)
    bronze_b = stream_parquet_bronze(spark, bronze_dir)
    joined = critical_context_stream(
        validate_enrich(bronze_a), validate_enrich(bronze_b)
    )
    got = run_stream(spark, joined, f"t_{uuid.uuid4().hex[:8]}")
    s_pairs = {
        (r["critical_id"], r["reading_id"]): (r["cell"], r["reading_value"])
        for r in got.collect()
    }
    assert len(s_pairs) > 0

    # batch ground truth: same operator applied to batch silver (the
    # builder is source-agnostic -- watermarks are no-ops in batch)
    batch_silver = validate_enrich(bronze_radiation(spark, SF))
    b_joined = critical_context_stream(batch_silver, batch_silver)
    b_pairs = {
        (r["critical_id"], r["reading_id"]): (r["cell"], r["reading_value"])
        for r in b_joined.collect()
    }
    # every critical matches at least itself in batch
    assert len(b_pairs) >= 1
    for key, vals in s_pairs.items():
        assert b_pairs[key] == vals, key
    assert len(s_pairs) > 0.8 * len(b_pairs)


def test_session_window_stream_matches_batch(spark, bronze_dir):
    """Streaming session_window (3 s gap per level) emits exactly the
    sessions a batch-mode session_window computes over the same data,
    for every session the watermark closed."""
    from big_data_streaming_dashboard_spark.streaming.pipeline import session_stream

    silver = silver_stream(stream_parquet_bronze(spark, bronze_dir), bounded_state=False)
    got = run_stream(spark, session_stream(silver), f"t_{uuid.uuid4().hex[:8]}")
    s_sessions = {
        (r["level"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in got.collect()
    }
    assert len(s_sessions) > 0

    batch_silver = first_occurrence_dedup(
        validate_enrich(bronze_radiation(spark, SF))
    ).filter((F.col("status") == "valid") & F.col("event_time").isNotNull())
    batch = (
        batch_silver.groupBy(
            "level", F.session_window("event_time", "3 seconds").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "level",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    b_sessions = {
        (r["level"], r["session_start"]): (r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    for key, vals in s_sessions.items():
        assert b_sessions[key] == vals, key


def test_exact_cooldown_state_survives_micro_batches(spark, tmp_path):
    """D2 streaming: last-emit state carries across micro-batches --
    an alert in batch 2 within 30 s of one emitted in batch 1 is
    suppressed."""
    rows_by_file = [
        [(0, "2024-01-01 10:00:00"), (1, "2024-01-01 10:00:20")],  # batch 1
        [(2, "2024-01-01 10:00:25"), (3, "2024-01-01 10:00:40")],  # batch 2
    ]
    src = str(tmp_path / "alerts_src")
    for i, rows in enumerate(rows_by_file):
        df = spark.createDataFrame(rows, "event_id long, ts string").select(
            F.lit("warning-10.000,20.000").alias("cooldown_key"),
            "event_id",
            F.to_timestamp("ts").alias("event_time"),
            F.lit(10.0).alias("lat"),
            F.lit(20.0).alias("lon"),
            F.lit(1200).cast("long").alias("value"),
            F.lit("warning").alias("severity"),
            F.lit("msg").alias("alert_message"),
        )
        df.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(COOLDOWN_OUTPUT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = run_stream(spark, exact_cooldown_stream(stream), f"t_{uuid.uuid4().hex[:8]}")
    ids = sorted(r["event_id"] for r in got.collect())
    # 0 emitted; 20s suppressed; 25s suppressed (state crossed the batch
    # boundary); 40s emitted (>= 30s after t=0)
    assert ids == [0, 3]


def test_debug_print_sink_runs(spark, bronze_dir):
    """S11: console sink drives the stream to completion (output goes
    to driver stdout; the assertion is that the query runs and
    processes every input row)."""
    from big_data_streaming_dashboard_spark.streaming.sinks import debug_print_sink

    silver = silver_stream(
        stream_parquet_bronze(spark, bronze_dir), bounded_state=False
    )
    q = debug_print_sink(silver, num_rows=5, available_now=True)
    q.awaitTermination(120)
    total = sum(p["numInputRows"] for p in q.recentProgress)
    assert total > 0


def test_dynamic_config_changes_replay_rate_across_restart(
    spark, bronze_dir, tmp_path
):
    """S13 effective semantics: the latest playback_speed in the config
    channel scales maxFilesPerTrigger at (re)start -- 4 bronze files
    replay as 4 micro-batches at speed 1, as 1 micro-batch after the
    channel carries speed 4 and the query restarts."""
    import json

    from big_data_streaming_dashboard_spark.sources.streams import (
        read_playback_config,
        stream_parquet_bronze_dynamic,
    )

    cfg_dir = tmp_path / "config"
    cfg_dir.mkdir()

    def batches(tag):
        stream = stream_parquet_bronze_dynamic(spark, bronze_dir, str(cfg_dir))
        counts = []
        q = (
            stream.writeStream.foreachBatch(
                lambda df, eid: counts.append(df.count())
            )
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [c for c in counts if c > 0]

    assert read_playback_config(str(cfg_dir)) == 1.0  # empty channel -> default
    first = batches("v1")
    assert len(first) == 4

    (cfg_dir / "0001.json").write_text(json.dumps({"playback_speed": 4.0}))
    assert read_playback_config(str(cfg_dir)) == 4.0
    second = batches("v2")
    assert len(second) == 1
    assert sum(second) == sum(first)  # same data, different batching


def test_streaming_curation_matches_batch(spark, tmp_path):
    """Streaming curation verdict agrees with the batch FULL ladder on
    every stateless reason it implements -- non_english, low_quality,
    and (r8) gopher_fail at the same precedence slot -- and exact-dup
    flagging drops the same NUMBER of docs per distinct text
    (arrival-order canonical, batch uses min-id)."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline,
    )
    from big_data_streaming_dashboard_spark.llmdata.text import gopher_rules
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        curation_stream,
        stream_documents,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    docs_dir = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(docs_dir)

    got = run_stream(
        spark,
        curation_stream(stream_documents(spark, docs_dir)),
        f"t_{uuid.uuid4().hex[:8]}",
    )
    s_rows = {r["doc_id"]: r for r in got.collect()}
    b_rows = {r["doc_id"]: r for r in curation_pipeline(docs).collect()}
    g_keep = {r["doc_id"]: r["keep"] for r in gopher_rules(docs).collect()}
    assert set(s_rows) == set(b_rows)  # a verdict row per document

    for doc_id, s in s_rows.items():
        b = b_rows[doc_id]
        assert s["quality_score"] == b["quality_score"], doc_id
        assert s["predicted_lang"] == b["predicted_lang"], doc_id
        # the streaming gopher gate thresholds the same rounded
        # metrics as the batch battery -- bit-identical verdict
        assert s["is_gopher_fail"] == (not g_keep[doc_id]), doc_id
        # stateless reasons agree exactly with the full-ladder
        # precedence: lang > quality > gopher
        if b["drop_reason"] in ("non_english", "low_quality"):
            assert s["drop_reason"] == b["drop_reason"], doc_id
        elif not g_keep[doc_id]:
            assert s["drop_reason"] == "gopher_fail", doc_id

    # dedup: same number of exact-dup drops, possibly different
    # representatives (arrival order vs min doc_id). Expected count is
    # derived from the stateless gates the stream applies upstream of
    # its dedup state: among gate-passing docs, every repeat of a
    # distinct text is a drop.
    passing = [
        r
        for r in b_rows.values()
        if r["drop_reason"] not in ("non_english", "low_quality")
        and g_keep[r["doc_id"]]
    ]
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    distinct = len({texts[r["doc_id"]] for r in passing})
    s_dups = sum(1 for r in s_rows.values() if r["drop_reason"] == "exact_duplicate")
    assert s_dups == len(passing) - distinct


def test_streaming_neardup_probe_matches_batch(spark, tmp_path):
    """Stream-static near-dup: streaming the corpus against its own
    batch-built band index finds exactly the batch neardup_pairs set
    (each undirected pair surfaces in both probe directions)."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import neardup_pairs
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        neardup_probe_stream,
        stream_documents,
        write_neardup_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    idx_path = str(tmp_path / "index")
    write_neardup_index(docs, idx_path)
    docs_dir = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(docs_dir)

    stream = neardup_probe_stream(
        stream_documents(spark, docs_dir), spark.read.parquet(idx_path)
    )
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    s_pairs = {
        frozenset((r["doc_id"], r["index_doc_id"])): r["jaccard"]
        for r in got.collect()
    }
    b_pairs = {
        frozenset((r["doc_a"], r["doc_b"])): r["jaccard"]
        for r in neardup_pairs(docs).collect()
    }
    assert set(s_pairs) == set(b_pairs)
    for pair, jac in b_pairs.items():
        assert s_pairs[pair] == jac, pair


def test_streaming_ann_probe_matches_batch(spark, tmp_path):
    """Stream-static ANN (r10): streaming the 5 query vectors against
    the batch-built band index yields EXACTLY the batch
    lsh_banded_topk rows -- same candidates (band-OR + Hamming-1
    multiprobe from the same literal planes), same cosine, same
    (cos DESC, vec_id) rank, because the per-query ranking is
    complete within the query's own micro-batch."""
    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        lsh_banded_topk,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        ann_topk_batches,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_ann_index(embs, str(tmp_path / "annidx"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(3).write.parquet(qdir)

    scored = ann_probe_stream(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/vecs"),
    )
    out = str(tmp_path / "topk")
    q = ann_topk_batches(scored, out, k=10)
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(map(tuple, lsh_banded_topk(embs, n_queries=5, k=10).collect()))
    assert got == batch


def test_streaming_containment_probe_matches_batch(spark, tmp_path):
    """Stream-static directed containment (r6): streaming the derived
    excerpts against the batch-built posting index of the base corpus
    finds exactly the batch containment_pairs cross-pairs -- same
    directed (contained, container) rows, same scores. The base corpus
    has no shingle near the df cap, so the batch (union-df) and stream
    (index-df) candidate rules provably coincide here."""
    import uuid

    from pyspark.sql import functions as F

    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        containment_decorate,
        containment_pairs,
        tokens,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        containment_probe_stream,
        stream_documents,
        write_containment_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    idx_path = str(tmp_path / "cindex")
    write_containment_index(docs, idx_path)

    # the stream: the same excerpt derivation the batch fixture uses
    toks = tokens(F.col("text"))
    half = F.slice(
        toks, 1, F.greatest((F.size(toks) / 2).cast("int"), F.lit(3))
    )
    excerpts = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(half, " ").alias("text"),
        F.lit("en").alias("lang"),
        F.lit("src0").alias("source"),
    )
    ex_dir = str(tmp_path / "excerpts")
    excerpts.repartition(3).write.parquet(ex_dir)

    stream = containment_probe_stream(
        stream_documents(spark, ex_dir),
        spark.read.parquet(f"{idx_path}/postings"),
        spark.read.parquet(f"{idx_path}/docs"),
    )
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    s_rows = {
        (r["contained_doc"], r["container_doc"]): r["containment"]
        for r in got.collect()
    }

    batch = containment_pairs(containment_decorate(docs), 0.8).collect()
    cross = {
        (r["contained_doc"], r["container_doc"]): r["containment"]
        for r in batch
        if (r["contained_doc"] >= 100000) != (r["container_doc"] >= 100000)
    }
    assert s_rows == cross
    assert cross, "fixture lost its containment pairs"


def test_containment_probe_rejects_pre_r7_string_index(spark, tmp_path):
    """The persisted containment-index key switched md5 hex (string)
    -> xxhash64 (int64) in r7; probing an old-format index would join
    bigint against string and silently yield zero candidates. The
    probe must refuse loudly instead (r7 advice)."""
    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        containment_probe_stream,
        stream_documents,
    )

    old = spark.createDataFrame(
        [(1, "a" * 32)], "doc_id long, sh_hash string"
    )
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    with pytest.raises(TypeError, match="predates the r7 int64 key format"):
        containment_probe_stream(
            stream_documents(spark, str(docs_dir)),
            old,
            spark.createDataFrame([], "doc_id long, shi array<long>, n_sh int"),
        )


def test_routed_sink_wire_contract(spark):
    """S10/S12 wire contract, brokerless: the exact kafka_wire
    projection the routed Kafka writer ships (key = dedup_key, value =
    to_json(struct(*)), streaming/sinks.py) parsed back through
    from_json restores every routed record -- schema, null fields on
    dirty rows, and S5 key formatting (composite key recomputed from
    the raw bronze fields, INVALID_KEY fallback, never null;
    data_provider/data_provider.py:134-150)."""
    from collections import Counter

    from big_data_streaming_dashboard_spark.functions.keys import dedup_key
    from big_data_streaming_dashboard_spark.operators.route import route
    from big_data_streaming_dashboard_spark.streaming.sinks import kafka_wire

    from .conftest import SF_SMOKE

    bronze = bronze_radiation(spark, SF_SMOKE)
    routed = route(first_occurrence_dedup(validate_enrich(bronze)))
    wire = kafka_wire(routed)
    back = wire.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), routed.schema).alias("r"),
    ).select("kafka_key", "r.*")

    # schema survives the JSON boundary: same names and types (the
    # boundary widens nullability -- JSON can't carry non-null
    # guarantees, so only name/type parity is contractual)
    assert [
        (f.name, f.dataType) for f in back.drop("kafka_key").schema.fields
    ] == [(f.name, f.dataType) for f in routed.schema.fields]

    cols = routed.columns

    def canon(rows):
        return Counter(tuple(str(r[c]) for c in cols) for r in rows)

    assert canon(back.collect()) == canon(routed.collect())

    # null-field handling: to_json drops null fields, from_json restores
    # absent ones as null -- every dirty record's enrichment fields must
    # come back null, not vanish or coerce
    dirty = back.filter(F.col("route") == "dirty")
    n_dirty = dirty.count()
    assert n_dirty > 0
    for c in ("timestamp", "event_time", "lat", "lon", "level"):
        assert dirty.filter(F.col(c).isNull()).count() == n_dirty, c

    # S5 key parity: wire key == composite key recomputed from raw
    # bronze; never null (D3: unparseable rows share INVALID_KEY)
    rejoined = back.select("kafka_key", "event_id").join(
        bronze.select(
            "event_id",
            dedup_key(
                F.col("latitude"),
                F.col("longitude"),
                F.col("value"),
                F.col("captured_time"),
                F.col("unit"),
            ).alias("expect_key"),
        ),
        "event_id",
    )
    assert rejoined.count() == routed.count()
    assert rejoined.filter(F.col("kafka_key").isNull()).count() == 0
    assert rejoined.filter(F.col("kafka_key") != F.col("expect_key")).count() == 0


def test_replay_epoch_downstream_dedup_restores_effective_once(spark, tmp_path):
    """Closes the documented EOS delta (SURVEY.md section 7.4) with
    proof: Spark's Kafka sink is at-least-once, so a retried
    micro-batch can deliver a whole epoch twice (the reference uses
    transactional EOS sinks, flink_process/flink_process.py:354-390).
    Replay the same epoch through the routed foreachBatch sink into an
    append store, consume with the documented dedup-on-key, and the
    result equals the exactly-once delivery -- per route."""
    from collections import Counter

    from big_data_streaming_dashboard_spark.operators.route import route
    from big_data_streaming_dashboard_spark.streaming.sinks import (
        kafka_wire,
        route_foreach_batch,
    )

    from .conftest import SF_SMOKE

    silver = first_occurrence_dedup(
        validate_enrich(bronze_radiation(spark, SF_SMOKE))
    ).persist()
    sink = tmp_path / "routed"

    def write_route(name, df, epoch_id):
        kafka_wire(df).write.mode("append").parquet(str(sink / name))

    fn = route_foreach_batch(write_route)
    fn(silver, 0)
    fn(silver, 0)  # duplicate delivery of the same epoch (at-least-once)

    routed = route(silver)
    for name in ROUTES:
        exact_once = Counter(
            (r["key"], r["value"])
            for r in kafka_wire(
                routed.filter(F.col("route") == name)
            ).collect()
        )
        delivered = spark.read.parquet(str(sink / name))
        # duplicates genuinely reached the sink ...
        assert delivered.count() == 2 * sum(exact_once.values()), name
        # ... and the idempotent consumer removes exactly them
        consumed = Counter(
            (r["key"], r["value"])
            for r in delivered.dropDuplicates(["key"]).collect()
        )
        assert consumed == exact_once, name
    silver.unpersist()


def test_streaming_contamination_probe_matches_batch(spark, tmp_path):
    """The stateless streaming contamination gate scores arriving
    docs identically to the batch contamination_check run over the
    same train/eval split."""
    from big_data_streaming_dashboard_spark.llmdata.text import (
        contamination_check,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        contamination_probe_stream,
        stream_documents,
        write_eval_passage_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx_path = str(tmp_path / "eval_idx")
    write_eval_passage_index(docs, idx_path, eval_source="src0")

    train = docs.filter(F.col("source") != "src0").select(
        "doc_id", "text", "lang"
    )
    docs_dir = str(tmp_path / "train_docs")
    train.repartition(4).write.parquet(docs_dir)

    got = run_stream(
        spark,
        contamination_probe_stream(
            stream_documents(spark, docs_dir),
            spark.read.parquet(idx_path),
            mode="exact",
        ),
        f"t_{uuid.uuid4().hex[:8]}",
    )
    cols = [
        "n_windows",
        "n_contaminated",
        "contamination_rate",
        "is_contaminated",
    ]
    s_rows = {r["doc_id"]: tuple(r[c] for c in cols) for r in got.collect()}
    b_rows = {
        r["doc_id"]: tuple(r[c] for c in cols)
        for r in contamination_check(docs, eval_source="src0").collect()
    }
    assert s_rows == b_rows
    # the fixture really plants cross-source duplicates: at least one
    # contaminated doc flows through the gate
    assert any(r[-1] for r in s_rows.values())


def test_bloom_filter_bounded_and_error_pinned(spark):
    """The Bloom structure behind the streaming contamination gate:
    built distributedly (bit_or merge of per-partition bitmaps), no
    false negatives ever, false-positive rate within 3x the configured
    fpp, and a driver footprint of exactly m/8 bytes."""
    import numpy as np

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        bloom_might_contain,
        bloom_params,
        build_eval_bloom,
    )

    rng = np.random.RandomState(7)
    inserted = rng.randint(-(2**62), 2**62, size=5000).astype("int64")
    clean = rng.randint(-(2**62), 2**62, size=50000).astype("int64")
    clean = np.setdiff1d(clean, inserted)

    idx = spark.createDataFrame(
        [(int(h),) for h in inserted], "passage_hash long"
    ).repartition(8)
    fpp = 1e-3
    bloom = build_eval_bloom(idx, fpp=fpp)
    m_bits, k = bloom_params(len(inserted), fpp)
    assert bloom["m_bits"] == m_bits and bloom["k"] == k
    assert bloom["words"].nbytes == m_bits // 8  # driver holds the bitmap only

    assert bloom_might_contain(bloom, inserted).all()  # zero false negatives
    fpr = bloom_might_contain(bloom, clean).mean()
    assert fpr <= 3 * fpp, f"measured fpr {fpr} vs configured {fpp}"


def test_streaming_contamination_bloom_gate(spark, tmp_path):
    """The default (bloom) streaming gate is conservative-approximate:
    per-doc window counts are >= the exact gate's (never misses a
    contaminated window), flags are a superset of the exact flags, and
    at fpp=1e-6 on this corpus the outputs coincide exactly."""
    from big_data_streaming_dashboard_spark.llmdata.text import (
        contamination_check,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        contamination_probe_stream,
        stream_documents,
        write_eval_passage_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx_path = str(tmp_path / "eval_idx_b")
    write_eval_passage_index(docs, idx_path, eval_source="src0")
    train = docs.filter(F.col("source") != "src0").select(
        "doc_id", "text", "lang"
    )
    docs_dir = str(tmp_path / "train_docs_b")
    train.repartition(4).write.parquet(docs_dir)

    got = run_stream(
        spark,
        contamination_probe_stream(
            stream_documents(spark, docs_dir),
            spark.read.parquet(idx_path),
            mode="bloom",
            fpp=1e-6,
        ),
        f"t_{uuid.uuid4().hex[:8]}",
    )
    s_rows = {r["doc_id"]: r for r in got.collect()}
    b_rows = {
        r["doc_id"]: r
        for r in contamination_check(docs, eval_source="src0").collect()
        if r["doc_id"] in s_rows
    }
    assert set(s_rows) == set(b_rows)
    for did, b in b_rows.items():
        s = s_rows[did]
        assert s["n_windows"] == b["n_windows"]
        assert s["n_contaminated"] >= b["n_contaminated"]  # conservative
        assert s["is_contaminated"] or not b["is_contaminated"]  # superset
    # fpp=1e-6 on a ~1e4-window corpus: exact coincidence expected
    assert all(
        s_rows[d]["n_contaminated"] == b_rows[d]["n_contaminated"]
        for d in b_rows
    )
    assert any(r["is_contaminated"] for r in s_rows.values())


def test_streaming_pii_redact_matches_batch(spark, tmp_path):
    """PII scrubbing is a stateless per-row map, so the batch
    expression applies to a document STREAM unchanged -- same counts
    and redacted text per doc as the batch run, no state operator in
    the plan."""
    from big_data_streaming_dashboard_spark.llmdata.text import (
        pii_decorate,
        pii_redact,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        stream_documents,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = pii_decorate(
        load_table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text", "lang"
        )
    )
    ddir = str(tmp_path / "pii_docs")
    docs.repartition(4).write.parquet(ddir)

    stream = pii_redact(stream_documents(spark, ddir))
    assert "stateful" not in stream._jdf.queryExecution().analyzed().toString().lower()
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    s = {r["doc_id"]: tuple(r) for r in got.collect()}
    b = {r["doc_id"]: tuple(r) for r in pii_redact(docs).collect()}
    assert s == b
    assert any(r["has_pii"] for r in got.collect())


def test_text_ops_streaming_batch_parity(spark, tmp_path):
    """The r5 text operators are map-only DataFrame functions, so the
    SAME code runs under Structured Streaming: chunk_spans and
    normalize_text over a streamed documents table produce exactly the
    batch result (availableNow + memory sink)."""
    import uuid

    from big_data_streaming_dashboard_spark.llmdata.text import (
        chunk_spans,
        normalize_decorate,
        normalize_text,
    )
    docs_batch = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").limit(
        120
    )
    src = str(tmp_path / "docs_stream")
    docs_batch.coalesce(3).write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema
    ).parquet(src)

    for opname, op in (
        ("chunks", chunk_spans),
        ("norm", lambda d: normalize_text(normalize_decorate(d))),
    ):
        name = f"{opname}_{uuid.uuid4().hex[:8]}"
        got = {tuple(r) for r in run_stream(spark, op(stream), name).collect()}
        expect = {tuple(r) for r in op(spark.read.parquet(src)).collect()}
        assert got == expect, opname


def test_streaming_importance_probe_matches_batch(spark, tmp_path):
    """Streaming DSIR scoring (r8): streaming the corpus against its
    own batch-built rate table reproduces the batch
    importance_weights rows exactly -- the quantized rates are shared
    literals and both sides fold them in DECIMAL, so weights are
    bit-identical, not approximately equal."""
    import uuid

    from big_data_streaming_dashboard_spark.llmdata.curation import (
        importance_weights,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        importance_probe_stream,
        stream_documents,
        write_importance_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    )
    idx_path = str(tmp_path / "iidx")
    write_importance_index(docs, idx_path)
    docs_dir = str(tmp_path / "docs")
    docs.drop("source").repartition(3).write.parquet(docs_dir)

    stream = importance_probe_stream(
        stream_documents(spark, docs_dir),
        spark.read.parquet(f"{idx_path}/rates"),
        spark.read.parquet(f"{idx_path}/totals"),
    )
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    s_rows = {r["doc_id"]: r for r in got.collect()}
    b_rows = {r["doc_id"]: r for r in importance_weights(docs).collect()}
    assert set(s_rows) == set(b_rows)
    for doc_id, b in b_rows.items():
        s = s_rows[doc_id]
        assert s["n_features"] == b["n_features"], doc_id
        assert s["importance_weight"] == b["importance_weight"], doc_id


def test_streaming_bpe_encode_matches_batch(spark, tmp_path):
    """Streaming BPE application (r8): encoding the corpus stream
    against its own persisted merge table reproduces the batch
    bpe_encode_stats rows exactly -- the chained literal replaces ARE
    the greedy leftmost merge application, so counts are identical,
    not approximately equal."""
    import uuid

    from big_data_streaming_dashboard_spark.llmdata.text import (
        bpe_encode_stats,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        bpe_encode_stream,
        stream_documents,
        write_bpe_merges,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    merges_path = str(tmp_path / "merges")
    write_bpe_merges(docs, merges_path)
    docs_dir = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(docs_dir)

    stream = bpe_encode_stream(
        stream_documents(spark, docs_dir), spark.read.parquet(merges_path)
    )
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    s_rows = {r["doc_id"]: tuple(r)[1:] for r in got.collect()}
    b_rows = {r["doc_id"]: tuple(r)[1:] for r in bpe_encode_stats(docs).collect()}
    assert s_rows == b_rows


def test_streaming_semantic_probe_matches_batch(spark, tmp_path):
    """Stream-static semantic near-dup probe (r11): streaming the
    corpus embeddings against the batch-built NEARDUP band index
    yields exactly the symmetric expansion of the batch
    `embedding_neardup_pairs` set -- same (band, sig) collision
    candidates (same literal planes, no multiprobe), same
    round-to-6 ordered-fold cosine, same >= threshold verify.
    Self-probe: every arriving vec_id v must hit exactly the partners
    u != v with {min(u,v), max(u,v)} in the batch pair set."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        embedding_neardup_pairs,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        semantic_probe_stream,
        stream_embeddings,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_semantic_index(embs, str(tmp_path / "semidx"))
    stream_dir = str(tmp_path / "vstream")
    embs.repartition(3).write.parquet(stream_dir)

    # threshold 0.3: the sf0.001 fixture's near-dups sit below the
    # 0.5 default (no pairs there); parity must hold at any threshold
    hits = semantic_probe_stream(
        stream_embeddings(spark, stream_dir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/vecs"),
        threshold=0.3,
    )
    got = run_stream(spark, hits, f"t_{uuid.uuid4().hex[:8]}")
    s_rows = {
        (r["vec_id"], r["index_vec_id"]): r["cos_sim"] for r in got.collect()
    }

    batch = embedding_neardup_pairs(embs, threshold=0.3).collect()
    # symmetric expansion: the directed hit set the stream emits
    b_rows = {}
    for r in batch:
        b_rows[(r["vec_a"], r["vec_b"])] = r["cos_sim"]
        b_rows[(r["vec_b"], r["vec_a"])] = r["cos_sim"]
    assert s_rows == b_rows
    assert b_rows, "fixture lost its embedding near-dup pairs"


def test_streaming_semantic_verdict_matches_batch(spark, tmp_path):
    """The streaming `semantic_duplicate` VERDICT equals the batch
    capstone constituent `semantic_neardup` row-for-row on a
    self-probe of the corpus: keep iff no verified partner with a
    lower id, dup_of = min such partner -- the batch ladder
    (curation_pipeline_full) and the stream now derive the reason
    from the same rule over the same plan."""
    from big_data_streaming_dashboard_spark.llmdata.dedup import semantic_neardup
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        semantic_verdict_batches,
        stream_embeddings,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_semantic_index(embs, str(tmp_path / "semidx"))
    stream_dir = str(tmp_path / "vstream")
    embs.repartition(3).write.parquet(stream_dir)

    out = str(tmp_path / "verdicts")
    q = semantic_verdict_batches(
        stream_embeddings(spark, stream_dir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/vecs"),
        out,
        threshold=0.3,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    s_rows = {
        r["vec_id"]: (r["keep"], r["dup_of"])
        for r in spark.read.parquet(out).collect()
    }
    b_rows = {
        r["doc_id"]: (r["keep"], r["dup_of"])
        for r in semantic_neardup(docs, embs, threshold=0.3).collect()
    }
    assert s_rows == b_rows
    assert any(not keep for keep, _ in b_rows.values()), (
        "fixture lost its semantic duplicates"
    )


def _parquet_scan_files_sizes(df) -> dict:
    """{parquet root path: 'filesSize' scan metric} for every
    FileSourceScanExec in df's EXECUTED plan (run an action on df
    first; a .write creates its own QueryExecution -- the AQE
    gotcha). filesSize is the post-partition-pruning byte total the
    scan planned to read, so it measures what the plan TOUCHES, not
    what the OS cached. Run with AQE off so leaves are plain scans,
    not QueryStageExecs."""
    sizes: dict = {}

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if name == "ReusedExchangeExec":
            walk(node.child())
            return
        if name == "FileSourceScanExec":
            root = node.relation().location().rootPaths().head().toString()
            sizes[root] = sizes.get(root, 0) + int(
                node.metrics().apply("filesSize").value()
            )
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return sizes


def _dir_bytes(path: str) -> int:
    # skip what the scan's file index skips: dot-files (local-FS .crc
    # checksums) and _-prefixed metadata (_SUCCESS)
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _s, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


@pytest.mark.parametrize("kind", ["quant", "matryoshka"])
def test_flat_kind_probe_scan_bytes_pinned(spark, tmp_path, kind):
    """r18 (r17 verdict item 4): the flat byte-budget kinds measured
    SLOWER than brute on the page-cached 10x fixture (PLANS.md r17:
    quant 35.2 s vs 14.2; matryoshka 24.9 s vs 16.7) and the recorded
    adjudication -- their win is SCAN BYTES in the 100 TB /
    object-storage regime, not local wall-clock -- rested on an
    unmeasured structural claim. Measure it: the probe's coarse
    stage plans its scan over the narrow artifact (tinyint codes /
    d-of-n prefix floats) at a small fraction of the full-width vecs
    bytes, read from the EXECUTED plan's own filesSize scan metric
    (what the plan touches), cross-checked against the on-disk byte
    sum (what a cold object store would serve)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _ann_dense_retriever,
        write_matryoshka_index,
        write_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / kind)
    if kind == "quant":
        write_quant_index(embs, idx)  # tinyint vs double: 1/8 raw
        scan_dir, bound = "codes", 0.30
    else:
        # probe_dim 16 of 64 doubles: 1/4 raw; per-row id/label
        # overhead is proportionally larger on the narrow side
        write_matryoshka_index(embs, idx, probe_dim=16)
        scan_dir, bound = "prefixes", 0.45

    retrieve, _fp = _ann_dense_retriever(
        spark, idx, 4, None, True, "scan-bytes-test"
    )
    batch = embs.filter(F.col("vec_id") < 5)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ranked, _cleanup = retrieve(batch, 5)
        # execute the SAME QueryExecution whose plan we then walk --
        # df.count() would build (and execute) its own aggregate QE,
        # leaving this plan's metrics zeroed
        n = (
            ranked._jdf.queryExecution().executedPlan().execute().count()
        )
        assert n > 0
        sizes = _parquet_scan_files_sizes(ranked)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    by_dir = {
        os.path.basename(root.rstrip("/")): b for root, b in sizes.items()
    }
    # the probe really scans the narrow artifact and the float tail
    assert scan_dir in by_dir and "vecs" in by_dir, by_dir
    ratio = by_dir[scan_dir] / by_dir["vecs"]
    assert ratio <= bound, (
        f"{kind}: coarse scan plans {by_dir[scan_dir]} bytes vs "
        f"{by_dir['vecs']} full-width -- ratio {ratio:.3f} > {bound}"
    )
    # the metric is the on-disk truth, not a planner estimate: a cold
    # object store serves exactly these bytes
    assert by_dir[scan_dir] == _dir_bytes(os.path.join(idx, scan_dir))
    assert by_dir["vecs"] == _dir_bytes(os.path.join(idx, "vecs"))


def test_semantic_replay_duplicates_are_verdict_benign(spark, tmp_path):
    """r18 (r17 verdict item 5): CLOSE the deliberate semantic-append
    carve-out (STATE.md 'Deferred by decision') by pinning the proof
    it rests on. `write_semantic_index(mode="append")` stays
    replay-tolerant because `append_curation_index`'s documented
    crash recovery re-runs the SAME delta -- the claim is that the
    duplicate band/vec rows a replay lands are BENIGN through the
    verdict derivation (candidate dedup collapses duplicated band
    collisions to distinct (vec_id, index_vec_id) pairs; the
    groupBy(vec_id).MIN(dup_of) aggregate collapses duplicated vec
    rows' repeated hits). Proof: a replayed root (same delta appended
    TWICE) yields verdicts IDENTICAL to the clean root on the same
    streamed corpus -- keep flags, dup_of partners, and row
    multiplicity (no duplicated verdict rows)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        semantic_verdict_batches,
        stream_embeddings,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 150)
    delta = embs.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 250))

    clean = write_semantic_index(base, str(tmp_path / "clean"))
    write_semantic_index(delta, clean, mode="append")
    replayed = write_semantic_index(base, str(tmp_path / "replayed"))
    write_semantic_index(delta, replayed, mode="append")
    write_semantic_index(delta, replayed, mode="append")  # crash recovery
    # the replayed root really does hold duplicate per-vector facts
    n_clean = spark.read.parquet(clean + "/vecs").count()
    n_replay = spark.read.parquet(replayed + "/vecs").count()
    assert n_replay == n_clean + delta.count()

    stream_dir = str(tmp_path / "qstream")
    embs.filter(F.col("vec_id") < 250).repartition(3).write.parquet(
        stream_dir
    )
    outs = {}
    for tag, idx in (("clean", clean), ("replayed", replayed)):
        out = str(tmp_path / f"verdicts_{tag}")
        semantic_verdict_batches(
            stream_embeddings(spark, stream_dir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/vecs"),
            out,
            threshold=0.3,
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
        ).awaitTermination(120)
        outs[tag] = sorted(
            map(tuple, spark.read.parquet(out).collect())
        )
    assert outs["replayed"] == outs["clean"] and outs["clean"]
    assert any(not keep for _, keep, _ in outs["clean"]), (
        "fixture lost its semantic duplicates"
    )


def test_streaming_ann_index_refresh_fails_loudly(spark, tmp_path):
    """The stream-static ANN correctness argument (per-query
    candidates are batch-local) holds only while the index is STATIC
    (r10 verdict item 6). Three pinned behaviors: (1) a consistent
    fingerprint pin passes through untouched; (2) a stale pin --
    probe plan built against an index that was since rebuilt --
    raises at `ann_topk_batches` call time, before any stream starts;
    (3) even WITHOUT the pin, running a stale probe plan is loud at
    the engine level (unique part-file names per write -> the stale
    file listing dies with FAILED_READ_FILE before the foreachBatch
    function ever runs), never a silent mix of index versions."""
    from pyspark.sql.streaming import StreamingQueryException

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        ann_topk_batches,
        index_fingerprint,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_ann_index(embs, str(tmp_path / "annidx"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 3).write.parquet(qdir)

    def probe():
        return ann_probe_stream(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/vecs"),
        )

    # (1) happy path: index untouched -> pinned run completes
    ok_out = str(tmp_path / "ok")
    q = ann_topk_batches(probe(), ok_out, k=5, index_path=idx)
    q.awaitTermination(120)
    assert spark.read.parquet(ok_out).count() > 0

    # the probe plan + fingerprint snapshot, then the index is rebuilt
    stale = index_fingerprint(spark, idx)
    scored = probe()
    write_ann_index(embs.filter(F.col("vec_id") % 2 == 0), idx)
    assert index_fingerprint(spark, idx) != stale

    # (2) stale pin refuses at call time, before the stream starts
    with pytest.raises(RuntimeError, match="overwritten under"):
        ann_topk_batches(
            scored,
            str(tmp_path / "bad"),
            k=5,
            index_path=idx,
            expected_fingerprint=stale,
        )

    # (3) unpinned stale plan: the engine itself fails loudly on the
    # stale file listing -- never a silent read of the new index
    q = ann_topk_batches(scored, str(tmp_path / "bad2"), k=5)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)


def test_streaming_curation_full_matches_batch(spark, tmp_path):
    """The streaming FULL-curation capstone: replaying the corpus the
    artifacts were built from reproduces `curation_pipeline_full`
    row-for-row -- every column, all nine drop reasons at the batch
    precedence. This is the strongest batch/stream claim in the repo:
    unlike `curation_stream` (arrival-order exact-dup state), the
    artifact-probe mode is fully deterministic (min-id exact-dup
    table), so equality is exact, not count-only."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline_full,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        curation_verdict_batches,
        stream_documents_full,
        write_curation_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    )
    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "curidx")
    write_curation_index(docs, embs, idx)
    docs_dir = str(tmp_path / "docs")
    docs.repartition(4).write.parquet(docs_dir)

    out = str(tmp_path / "verdicts")
    q = curation_verdict_batches(
        stream_documents_full(spark, docs_dir),
        idx,
        out,
        semantic_threshold=0.3,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(240)

    s_rows = {
        r["doc_id"]: tuple(r)[1:] for r in spark.read.parquet(out).collect()
    }
    batch = curation_pipeline_full(docs, embs, semantic_threshold=0.3).collect()
    b_rows = {r["doc_id"]: tuple(r)[1:] for r in batch}
    assert set(s_rows) == set(b_rows)
    mismatches = {
        k: (s_rows[k], b_rows[k]) for k in b_rows if s_rows[k] != b_rows[k]
    }
    assert not mismatches, dict(list(mismatches.items())[:5])

    # the fixture must actually exercise the ladder: multiple distinct
    # drop reasons, including at least one probe-backed reason
    reasons = {r["drop_reason"] for r in batch if r["drop_reason"]}
    assert "semantic_duplicate" in reasons or "near_duplicate" in reasons, reasons
    assert len(reasons) >= 4, reasons

    # the corpus-build dashboard agrees end to end: the funnel over
    # the STREAMED verdict parquet equals the batch funnel exactly
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_funnel,
        funnel_of_verdicts,
    )

    s_funnel = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in funnel_of_verdicts(spark.read.parquet(out)).collect()
    }
    b_funnel = {
        r["stage"]: (r["n_docs"], r["n_tokens"])
        for r in curation_funnel(docs, embs, semantic_threshold=0.3).collect()
    }
    assert s_funnel == b_funnel


def test_streaming_curation_append_equals_rebuild(spark, tmp_path):
    """Incremental artifact refresh is EXACT: building the curation
    index on a 60% prefix of the corpus and appending the remaining
    40% as a delta yields verdicts identical to a one-shot build over
    the whole corpus -- per-doc artifact rows append trivially, the
    exact-dup log merges by associative MIN at probe time, and the
    near-dup bucket cap is recomputed over the merged index. Also:
    the append re-stamps the fingerprint, so a stream pinned to the
    pre-append nonce refuses to start."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_curation_index,
        curation_verdict_batches,
        index_fingerprint,
        stream_documents_full,
        write_curation_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    )
    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cut = F.col("doc_id") < 300
    vcut = F.col("vec_id") < 300

    one_shot = str(tmp_path / "oneshot")
    write_curation_index(docs, embs, one_shot)
    incr = str(tmp_path / "incr")
    write_curation_index(docs.filter(cut), embs.filter(vcut), incr)
    pre_append = index_fingerprint(spark, incr)
    append_curation_index(docs.filter(~cut), embs.filter(~vcut), incr)
    assert index_fingerprint(spark, incr) != pre_append

    docs_dir = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(docs_dir)

    def verdicts(idx, tag):
        out = str(tmp_path / f"verdicts_{tag}")
        q = curation_verdict_batches(
            stream_documents_full(spark, docs_dir),
            idx,
            out,
            semantic_threshold=0.3,
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
        )
        q.awaitTermination(240)
        return {
            r["doc_id"]: tuple(r)[1:] for r in spark.read.parquet(out).collect()
        }

    got_incr = verdicts(incr, "incr")
    got_one = verdicts(one_shot, "one")
    assert set(got_incr) == set(got_one)
    mismatches = {
        k: (got_incr[k], got_one[k]) for k in got_one if got_incr[k] != got_one[k]
    }
    assert not mismatches, dict(list(mismatches.items())[:5])
    # the delta must actually contribute drops: some doc in the 60%
    # prefix must be a duplicate of / near a delta doc or vice versa
    dropped = {k for k, v in got_one.items() if not v[-1]}
    assert dropped & {k for k in got_one if k >= 300}, "delta contributed nothing"


def test_neardup_probe_merged_bucket_cap_across_appends(spark, tmp_path):
    """The degenerate-bucket cap must bind on the MERGED index: a
    band bucket that stays under the cap in each build increment but
    crosses it merged is skipped by the probe, exactly as a one-shot
    build over the union would skip it. Under the old rule (stored
    per-increment `_bucket_n`) the appended index would keep the
    bucket and emit candidates the rebuild suppresses -- this test
    fails against that behavior. Cap=5 keeps the fixture tiny; the
    rule is cap-value-independent."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        neardup_probe_stream,
        stream_documents,
        write_neardup_index,
    )

    # 8 docs with IDENTICAL text -> identical signatures -> one bucket
    # per band; split 4 + 4 so each increment is under cap=5 but the
    # merged bucket (8) is over it
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clones = spark.createDataFrame(
        [(i, text, "en") for i in range(8)], "doc_id long, text string, lang string"
    )
    merged_idx = str(tmp_path / "idx")
    write_neardup_index(clones.filter(F.col("doc_id") < 4), merged_idx)
    write_neardup_index(
        clones.filter(F.col("doc_id") >= 4), merged_idx, mode="append"
    )
    oneshot_idx = str(tmp_path / "idx1")
    write_neardup_index(clones, oneshot_idx)

    probe_doc = spark.createDataFrame(
        [(100, text, "en")], "doc_id long, text string, lang string"
    )
    probe_dir = str(tmp_path / "probe")
    probe_doc.write.parquet(probe_dir)

    def hits(idx):
        stream = neardup_probe_stream(
            stream_documents(spark, probe_dir),
            spark.read.parquet(idx),
            max_bucket_size=5,
        )
        got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
        return sorted(r["index_doc_id"] for r in got.collect())

    assert hits(merged_idx) == hits(oneshot_idx) == []
    # sanity: with the cap lifted the same probe finds all 8 clones,
    # so the empties above are the cap binding, not a broken probe
    stream = neardup_probe_stream(
        stream_documents(spark, probe_dir),
        spark.read.parquet(merged_idx),
        max_bucket_size=1000,
    )
    got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
    assert sorted(r["index_doc_id"] for r in got.collect()) == list(range(8))


def test_streaming_curation_compact_preserves_verdicts(spark, tmp_path):
    """LSM compaction of the exact-dup log: after build + append, the
    compacted root holds ONE row per distinct text (N partial
    aggregates merged), the fingerprint is re-stamped, and the
    capstone verdicts are unchanged."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_curation_index,
        compact_curation_index,
        curation_verdict_batches,
        index_fingerprint,
        stream_documents_full,
        write_curation_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    )
    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cut = F.col("doc_id") < 300
    idx = str(tmp_path / "idx")
    write_curation_index(docs.filter(cut), embs.filter(F.col("vec_id") < 300), idx)
    append_curation_index(
        docs.filter(~cut), embs.filter(F.col("vec_id") >= 300), idx
    )

    log = spark.read.parquet(idx + "/exact")
    n_log, n_distinct = log.count(), log.select("text_hash").distinct().count()
    pre = index_fingerprint(spark, idx)
    compact_curation_index(spark, idx)
    assert index_fingerprint(spark, idx) != pre
    compacted = spark.read.parquet(idx + "/exact")
    assert compacted.count() == n_distinct <= n_log

    docs_dir = str(tmp_path / "docs")
    docs.repartition(2).write.parquet(docs_dir)
    out = str(tmp_path / "verdicts")
    q = curation_verdict_batches(
        stream_documents_full(spark, docs_dir),
        idx,
        out,
        semantic_threshold=0.3,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(240)
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        curation_pipeline_full,
    )

    s_rows = {
        r["doc_id"]: tuple(r)[1:] for r in spark.read.parquet(out).collect()
    }
    b_rows = {
        r["doc_id"]: tuple(r)[1:]
        for r in curation_pipeline_full(docs, embs, semantic_threshold=0.3).collect()
    }
    assert s_rows == b_rows


def test_streaming_curation_compact_refuses_stale_backup(spark, tmp_path):
    """r12 (r11 ADVICE): the compaction swap is backup-rename-delete,
    so a crash between the two renames leaves the exact table
    recoverable at exact.compact-backup -- and the NEXT compaction
    must refuse loudly while that marker exists instead of silently
    renaming over an unresolved crash."""
    import os

    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        compact_curation_index,
        write_curation_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang", "source"
    ).filter(F.col("doc_id") < 50)
    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        F.col("vec_id") < 50
    )
    idx = str(tmp_path / "idx")
    write_curation_index(docs, embs, idx)
    os.makedirs(idx + "/exact.compact-backup")
    with pytest.raises(Exception, match="stale backup"):
        compact_curation_index(spark, idx)
    # resolving the crash marker lets compaction proceed and the live
    # table survives
    os.rmdir(idx + "/exact.compact-backup")
    compact_curation_index(spark, idx)
    assert spark.read.parquet(idx + "/exact").count() > 0
    assert not os.path.exists(idx + "/exact.compact-backup")


def test_streaming_ann_append_equals_rebuild(spark, tmp_path):
    """ANN index rows are per-vector facts (no bucket cap, no
    aggregate), so building on half the corpus and appending the rest
    yields exactly the one-shot index's top-k for every query."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        lsh_banded_topk,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        ann_topk_batches,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    incr = str(tmp_path / "incr")
    write_ann_index(embs.filter(F.col("vec_id") < 250), incr)
    write_ann_index(embs.filter(F.col("vec_id") >= 250), incr, mode="append")

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = ann_topk_batches(
        ann_probe_stream(
            stream_embeddings(spark, qdir),
            spark.read.parquet(incr + "/bands"),
            spark.read.parquet(incr + "/vecs"),
        ),
        out,
        k=10,
        index_path=incr,
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(map(tuple, lsh_banded_topk(embs, n_queries=5, k=10).collect()))
    assert got == batch

    # torn artifact (bands rows landed, vecs rows missing -- the crash
    # window inside an append) and a bands knob that disagrees with
    # the build both refuse at probe construction: either would
    # otherwise silently drop candidates at the exact-verify join
    spark.read.parquet(incr + "/bands").limit(1).withColumn(
        "vec_id", F.lit(99999).cast("long")
    ).write.mode("append").parquet(incr + "/bands")
    with pytest.raises(ValueError, match="torn append or a bands knob"):
        ann_probe_stream(
            stream_embeddings(spark, qdir),
            spark.read.parquet(incr + "/bands"),
            spark.read.parquet(incr + "/vecs"),
        )


def test_containment_probe_merged_df_cap_across_appends(spark, tmp_path):
    """The containment df cap must bind on MERGED document
    frequencies when probing an appended index with the r11 df
    sidecar: a shingle under the cap in each increment but over it
    merged generates no candidates, exactly as a one-shot rebuild;
    and with the cap lifted the same probe finds the clones (the
    empties come from the cap). Cap=5, 4+4 clones sharing every
    shingle."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        containment_probe_stream,
        stream_documents,
        write_containment_index,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    clones = spark.createDataFrame(
        [(i, text) for i in range(8)], "doc_id long, text string"
    )
    merged_idx = str(tmp_path / "idx")
    write_containment_index(clones.filter(F.col("doc_id") < 4), merged_idx)
    write_containment_index(
        clones.filter(F.col("doc_id") >= 4), merged_idx, mode="append"
    )
    oneshot_idx = str(tmp_path / "idx1")
    write_containment_index(clones, oneshot_idx)

    probe_doc = spark.createDataFrame(
        [(100, text, "en")], "doc_id long, text string, lang string"
    )
    probe_dir = str(tmp_path / "probe")
    probe_doc.write.parquet(probe_dir)

    def pairs(idx, cap):
        stream = containment_probe_stream(
            stream_documents(spark, probe_dir),
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/docs"),
            df_index=spark.read.parquet(idx + "/df"),
            max_postings=cap,
        )
        got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
        return sorted(
            (r["contained_doc"], r["container_doc"]) for r in got.collect()
        )

    assert pairs(merged_idx, 5) == pairs(oneshot_idx, 5) == []
    found = pairs(merged_idx, 1000)
    # identical docs contain each other both ways: 8 partners x 2 dirs
    assert len(found) == 16 and {d for p in found for d in p} == set(range(8)) | {100}


def test_streaming_rerank_matches_batch(spark, tmp_path):
    """Streaming retrieve-then-rerank: streaming the 5 query vectors
    against the signed-corpus index reproduces the batch
    `cross_encoder_rerank` rows exactly -- same Hamming-radius
    retrieval (same planes), same deterministic bilinear scorer
    literals, same round-6-then-rank tie order. Also pins append:
    the index built in two increments gives the same answer."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        cross_encoder_rerank,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        rerank_topk_batches,
        stream_embeddings,
        write_rerank_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ridx")
    write_rerank_index(embs.filter(F.col("vec_id") < 250), idx)
    write_rerank_index(
        embs.filter(F.col("vec_id") >= 250), idx, mode="append"
    )
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)

    out = str(tmp_path / "topk")
    q = rerank_topk_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx + "/corpus"),
        out,
        k=5,
        index_path=idx,
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(
        map(tuple, cross_encoder_rerank(embs, n_queries=5, k=5).collect())
    )
    assert got == batch
    assert got, "fixture produced no rerank rows"


def test_streaming_knn_classify_matches_batch(spark, tmp_path):
    """Streaming k-NN classification over the static corpus equals the
    batch `knn_label_vote` exactly for every streamed query (same
    cosine, rank ties, and vote ties), reusing `write_ann_index`'s
    vecs artifact as the corpus."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        knn_label_vote,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        knn_classify_batches,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_ann_index(embs, str(tmp_path / "annidx"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)

    out = str(tmp_path / "labels")
    q = knn_classify_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx + "/vecs"),
        out,
        k=5,
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(map(tuple, knn_label_vote(embs, n_queries=5, k=5).collect()))
    assert got == batch
    assert got, "no classifications produced"

    # exclude_self=False (external-request-id serving, r15): the query
    # whose embedding IS a corpus vector now counts its exact twin
    # (cos 1.0) among the k neighbors -- k=1 makes the prediction
    # simply that vector's own label, which leave-one-out can never
    # produce for a vector whose nearest other neighbor has a
    # different label
    out2 = str(tmp_path / "labels_self")
    q2 = knn_classify_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx + "/vecs"),
        out2,
        k=1,
        exclude_self=False,
    )
    q2.awaitTermination(120)
    own = {
        r["vec_id"]: r["label"]
        for r in embs.filter(F.col("vec_id") < 5).collect()
    }
    got2 = {
        r["query_id"]: r["predicted_label"]
        for r in spark.read.parquet(out2).collect()
    }
    assert got2 == own


def test_streaming_ivf_topk_matches_batch_multiprobe(spark, tmp_path):
    """Streaming IVF over the persisted cell-partitioned artifact
    equals the batch `ivf_topk` row-for-row at n_probe>=2 for
    corpus-replayed queries (shared probe rule: squared distance to
    the final-assignment means, (d2, cluster) ties, (cos DESC,
    vec_id) rank ties). Also pins: the cells layout actually
    partition-prunes (a cluster-IN filter lands in the scan's
    PartitionFilters), and the family's stale-pin refusal."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        ivf_topk,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        index_fingerprint,
        ivf_topk_batches,
        stream_embeddings,
        write_ivf_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_ivf_index(embs, str(tmp_path / "ivf"), n_lists=8,
                          kmeans_iterations=3)
    cells = spark.read.parquet(idx + "/cells")
    cents = spark.read.parquet(idx + "/centroids")

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = ivf_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        cents,
        out,
        k=10,
        n_probe=2,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            ivf_topk(
                embs, n_queries=5, k=10, n_lists=8, kmeans_iterations=3,
                n_probe=2,
            ).collect(),
        )
    )
    assert got == want and got

    # the cell layout partition-prunes: a cluster IN filter reaches
    # the scan's PartitionFilters (the artifact property the probe's
    # bounded literal-IN relies on)
    pruned = cells.filter(F.col("cluster").isin([0, 3]))
    pruned.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan

    # stale pin refuses at call time after a rebuild
    stale = index_fingerprint(spark, idx)
    write_ivf_index(embs.filter(F.col("vec_id") < 100), idx,
                    n_lists=8, kmeans_iterations=3)
    assert index_fingerprint(spark, idx) != stale
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="IVF index .* overwritten"):
        ivf_topk_batches(
            stream_embeddings(spark, qdir),
            cells,
            cents,
            str(tmp_path / "stale_out"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def test_streaming_pq_topk_matches_batch(spark, tmp_path):
    """Streaming PQ shortlist-then-rerank over the persisted
    codes/vecs/codebooks artifact equals the batch `pq_topk`
    row-for-row for corpus-replayed queries: the per-query ADC table
    is the SAME `pq_lut` Python arithmetic the batch bakes into
    literals, the lookup sum is the shared written-order `pq_adc_dist`
    chain, and the shortlist+rerank tail is `pq_shortlist_rerank` --
    with the stream reading float vectors ONLY for the shortlist
    (vecs joined after the ADC window). Also pins the family's
    stale-pin refusal."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        pq_topk,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        index_fingerprint,
        pq_topk_batches,
        stream_embeddings,
        write_pq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_pq_index(embs, str(tmp_path / "pq"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)

    out = str(tmp_path / "topk")
    q = pq_topk_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx + "/codes"),
        spark.read.parquet(idx + "/vecs"),
        spark.read.parquet(idx + "/codebooks"),
        out,
        k=5,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, pq_topk(embs, n_queries=5, k=5).collect()))
    assert got == want and got

    # stale pin refuses at call time after a rebuild
    stale = index_fingerprint(spark, idx)
    write_pq_index(embs.filter(F.col("vec_id") < 300), idx)
    assert index_fingerprint(spark, idx) != stale
    with pytest.raises(RuntimeError, match="PQ index .* overwritten"):
        pq_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/codes"),
            spark.read.parquet(idx + "/vecs"),
            spark.read.parquet(idx + "/codebooks"),
            str(tmp_path / "stale_out"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def _ivfpq_pure_python_topk(
    cell_rows, vec_map, cent_rows, books, raw_q, k, n_probe, shortlist
):
    """Pure-Python IVF-PQ cascade -- centroid ranking in raw space
    with (d2, cluster) ties, ADC under the stored codebooks,
    (adc, vec_id) shortlist, exact-dot rerank with Spark's HALF_UP
    display rounding replicated via Decimal(repr(x)) -- shared by the
    IVF-PQ serving and append tests as the no-Spark-helper reference.
    All folds run left-to-right from 0.0, matching the engine's
    `dot`/`pq_adc_dist` bit-for-bit."""
    from decimal import ROUND_HALF_UP, Decimal

    n_sub = len(books)
    d_sub = len(books[0][0])
    out = []
    for qid in sorted(raw_q):
        rq = raw_q[qid]
        ranked_cells = sorted(
            (
                sum((a - b) * (a - b) for a, b in zip(rq, c)),
                cl,
            )
            for cl, c in cent_rows
        )[:n_probe]
        probed = {cl for _, cl in ranked_cells}
        acc = 0.0
        for x in rq:
            acc = acc + x * x
        norm = acc ** 0.5
        uq = [x / norm for x in rq]
        lut = [
            [
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(uq[s * d_sub : (s + 1) * d_sub], c)
                )
                for c in books[s]
            ]
            for s in range(n_sub)
        ]
        cands = []
        for r in cell_rows:
            if r["cluster"] not in probed or r["vec_id"] == qid:
                continue
            adc = 0.0
            for s in range(n_sub):
                adc = adc + lut[s][r["codes"][s]]
            cands.append((adc, r["vec_id"], r["label"]))
        cands.sort()
        for rank, (neg_cos, vid, label) in enumerate(
            sorted(
                (
                    -float(
                        Decimal(
                            repr(
                                sum(
                                    a * b
                                    for a, b in zip(uq, vec_map[vid])
                                )
                            )
                        ).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                    vid,
                    label,
                )
                for _, vid, label in cands[: max(shortlist, k)]
            )[:k],
            start=1,
        ):
            out.append((qid, vid, label, rank, -neg_cos))
    return sorted(out)


def test_streaming_ivfpq_topk_composes_the_family_rules(spark, tmp_path):
    """Streaming IVF-PQ -- coarse cells prune the scan, PQ codes score
    it, floats serve only the shortlist -- pinned two independent ways:
    (1) at n_probe == n_lists the candidate set is the whole corpus,
    so the output must equal `pq_topk_batches` over a plain PQ
    artifact with the same model knobs, row-for-row (a DIFFERENT
    artifact through a DIFFERENT code path); (2) at n_probe=2 the
    output equals a pure-Python recompute of the whole cascade --
    centroid ranking in raw space with (d2, cluster) ties, ADC under
    the stored codebooks, (adc, vec_id) shortlist, exact-dot rerank
    with Spark's HALF_UP display rounding replicated via
    Decimal(repr(x)) -- no Spark helper reuse
    (`_ivfpq_pure_python_topk`). Also pins the cells partition
    pruning and the family's stale-pin refusal."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        index_fingerprint,
        ivfpq_topk_batches,
        pq_topk_batches,
        stream_embeddings,
        write_ivfpq_index,
        write_pq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivfpq")
    write_ivfpq_index(embs, idx, n_lists=8)
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)

    cells = spark.read.parquet(idx + "/cells")
    vecs = spark.read.parquet(idx + "/vecs")
    books_df = spark.read.parquet(idx + "/codebooks")
    cents = spark.read.parquet(idx + "/centroids")

    # (1) full probe == the plain PQ stream over a separate artifact
    # (n_probe == the ACTUAL stored centroid count -- k-means may
    # leave a cluster empty, and the equivalence premise is "probe
    # every stored cell")
    n_lists_actual = cents.count()
    out_full = str(tmp_path / "topk_full")
    q = ivfpq_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        vecs,
        books_df,
        cents,
        out_full,
        k=5,
        n_probe=n_lists_actual,
        checkpoint=str(tmp_path / "ckpt_full"),
        index_path=idx,
    )
    q.awaitTermination(180)
    pq_idx = str(tmp_path / "pq")
    write_pq_index(embs, pq_idx)
    out_pq = str(tmp_path / "topk_pq")
    q2 = pq_topk_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(pq_idx + "/codes"),
        spark.read.parquet(pq_idx + "/vecs"),
        spark.read.parquet(pq_idx + "/codebooks"),
        out_pq,
        k=5,
        checkpoint=str(tmp_path / "ckpt_pq"),
        index_path=pq_idx,
    )
    q2.awaitTermination(180)
    got_full = sorted(map(tuple, spark.read.parquet(out_full).collect()))
    want_pq = sorted(map(tuple, spark.read.parquet(out_pq).collect()))
    assert got_full == want_pq and got_full

    # (2) n_probe=2 == pure-Python cascade recompute
    out2 = str(tmp_path / "topk_2")
    q3 = ivfpq_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        vecs,
        books_df,
        cents,
        out2,
        k=5,
        n_probe=2,
        checkpoint=str(tmp_path / "ckpt_2"),
        index_path=idx,
    )
    q3.awaitTermination(180)
    got2 = sorted(map(tuple, spark.read.parquet(out2).collect()))

    cell_rows = cells.collect()
    vec_map = {r["vec_id"]: list(r["v"]) for r in vecs.collect()}
    cent_rows = sorted(
        (r["cluster"], list(r["centroid"])) for r in cents.collect()
    )
    cb_rows = books_df.orderBy("s", "code").collect()
    n_sub = 1 + max(r["s"] for r in cb_rows)
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in cb_rows:
        books[r["s"]].append(list(r["centroid"]))
    raw_q = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in embs.filter(F.col("vec_id") < 5).collect()
    }
    want2 = _ivfpq_pure_python_topk(
        cell_rows,
        vec_map,
        cent_rows,
        books,
        raw_q,
        k=5,
        n_probe=2,
        shortlist=max(8 * 5, 500 * 2 // (8 * n_lists_actual)),
    )
    assert got2 == want2 and got2

    # cells partition pruning: a cluster IN filter reaches the scan
    pruned = cells.filter(F.col("cluster").isin([0, 3]))
    pruned.count()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster" in plan

    # stale pin refuses at call time after a rebuild
    stale = index_fingerprint(spark, idx)
    write_ivfpq_index(embs.filter(F.col("vec_id") < 200), idx, n_lists=8)
    assert index_fingerprint(spark, idx) != stale
    with pytest.raises(RuntimeError, match="IVF-PQ index .* overwritten"):
        ivfpq_topk_batches(
            stream_embeddings(spark, qdir),
            cells,
            vecs,
            books_df,
            cents,
            str(tmp_path / "stale_out"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def test_streaming_ivfpq_randomized_corpora_parity(spark):
    """IVF-PQ probe/ADC/tie arithmetic vs the pure-Python cascade on
    RANDOMIZED corpora (the `_bm25_postings` in-memory-parity
    precedent): three seeded corpora far outside the fixture
    distribution -- tiny dim, coarse codebooks, cluster-starved
    k-means -- exercised I/O-free through the extracted
    `_ivfpq_ranked_plan`, so tie-rule or probe-rule regressions can't
    hide behind the fixture's comfortable geometry."""
    import random

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        _dvec,
        ivf_centroids,
        kmeans_assign,
        pq_encode,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _ivfpq_ranked_plan,
    )

    for seed in (11, 37, 96):
        rng = random.Random(seed)
        n, dim = 60, 8
        rows = [
            (i, rng.randrange(4), [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)
        ]
        embs = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        assigned = kmeans_assign(embs, k=4, iterations=2)
        encoded, books = pq_encode(
            embs, n_subspaces=2, n_codes=4, iterations=2, dim=dim
        )
        cells = (
            encoded.select("vec_id", "label", "codes")
            .join(assigned, "vec_id")
            .persist()
        )
        vecs = encoded.select("vec_id", "v").persist()
        cents = ivf_centroids(
            embs.select(
                "vec_id", _dvec("embedding").alias("vec")
            ).join(assigned, "vec_id")
        ).persist()
        batch = embs.filter(F.col("vec_id") < 5)
        ranked, done = _ivfpq_ranked_plan(
            batch, cells, vecs, books, cents, 3, 2, 10, True
        )
        got = sorted(map(tuple, ranked.collect()))
        done()

        want = _ivfpq_pure_python_topk(
            cells.collect(),
            {r["vec_id"]: list(r["v"]) for r in vecs.collect()},
            sorted((r["cluster"], list(r["centroid"])) for r in cents.collect()),
            books,
            {i: [float(x) for x in rows[i][2]] for i in range(5)},
            k=3,
            n_probe=2,
            shortlist=10,
        )
        for df in (cells, vecs, cents):
            df.unpersist()
        assert got == want and got, seed


def test_streaming_pq_append_equals_frozen_model_rebuild(spark, tmp_path):
    """`append_pq_index` encodes a delta under the FROZEN stored
    codebooks (faiss add-with-trained-index), and the claim is pinned
    two independent ways: (a) the appended codes rows equal a pure-
    Python nearest-centroid recompute of the delta under the stored
    codebooks -- left-to-right fold normalization, per-subspace
    squared-L2 folds, first-min tie rule, the exact `_normalize` /
    `_pq_assign_col` arithmetic re-derived WITHOUT Spark (the
    union-find/BFS-reference discipline); (b) streaming probes over
    the appended artifact equal `pq_shortlist_rerank` over the merged
    frozen-model encoding computed in-memory (base encode from
    `pq_encode`, delta encode from the shared `pq_code_col`). Also
    pins the nonce re-stamp on append (running pinned streams fail
    over) and the empty-delta no-op (no pointless failover)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        _dvec,
        _normalize,
        pq_adc_dist,
        pq_code_col,
        pq_encode,
        pq_lut,
        pq_shortlist_rerank,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_pq_index,
        index_fingerprint,
        pq_topk_batches,
        stream_embeddings,
        write_pq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 400)
    delta = embs.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "pq")
    write_pq_index(base, idx)
    stamp0 = index_fingerprint(spark, idx)
    append_pq_index(delta, idx)
    assert index_fingerprint(spark, idx) != stamp0  # failover re-stamp

    # (a) appended codes == pure-Python frozen-model recompute
    cb_rows = (
        spark.read.parquet(idx + "/codebooks").orderBy("s", "code").collect()
    )
    n_sub = 1 + max(r["s"] for r in cb_rows)
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in cb_rows:
        books[r["s"]].append(list(r["centroid"]))
    d_sub = len(books[0][0])
    got_codes = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(idx + "/codes")
        .filter(F.col("vec_id") >= 400)
        .collect()
    }
    raw = delta.select("vec_id", _dvec("embedding").alias("e")).collect()
    assert len(got_codes) == len(raw) == 100
    for r in raw:
        acc = 0.0
        for x in r["e"]:
            acc = acc + x * x
        norm = acc ** 0.5
        v = [x / norm for x in r["e"]]
        want = []
        for s in range(n_sub):
            sub = v[s * d_sub : (s + 1) * d_sub]
            dists = []
            for c in books[s]:
                d = 0.0
                for a, b in zip(sub, c):
                    d = d + (a - b) * (a - b)
                dists.append(d)
            want.append(dists.index(min(dists)))
        assert got_codes[r["vec_id"]] == want, r["vec_id"]

    # (b) probes over the appended artifact == the merged frozen-model
    # encoding served through the shared batch tail
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id").isin([1, 150, 410, 470])).repartition(
        2
    ).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = pq_topk_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx + "/codes"),
        spark.read.parquet(idx + "/vecs"),
        spark.read.parquet(idx + "/codebooks"),
        out,
        k=5,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    enc_base, books_trained = pq_encode(base)
    assert books_trained == books  # stored model IS the base training
    merged = enc_base.select("vec_id", "label", "v", "codes").unionByName(
        delta.select(
            "vec_id",
            "label",
            _normalize(_dvec("embedding")).alias("v"),
        ).withColumn("codes", pq_code_col(books))
    ).persist()
    shortlist = max(8 * 5, 500 // 8)
    branches = []
    for qr in sorted(
        merged.filter(F.col("vec_id").isin([1, 150, 410, 470])).collect(),
        key=lambda r: r["vec_id"],
    ):
        qv = list(qr["v"])
        lut = pq_lut(qv, books)
        lut_expr = F.expr(
            "array(%s)"
            % ", ".join(
                "array(%s)" % ", ".join(repr(x) for x in row) for row in lut
            )
        )
        branches.append(
            merged.filter(F.col("vec_id") != qr["vec_id"]).select(
                F.lit(qr["vec_id"]).alias("query_id"),
                "vec_id",
                "label",
                "v",
                pq_adc_dist(lut_expr, F.col("codes"), n_sub).alias("_adc"),
                F.expr(
                    "array(%s)" % ", ".join(repr(x) for x in qv)
                ).alias("_qv"),
            )
        )
    scored = branches[0]
    for b in branches[1:]:
        scored = scored.unionByName(b)
    want = sorted(
        map(tuple, pq_shortlist_rerank(scored, 5, shortlist).collect())
    )
    merged.unpersist()
    assert got == want and got
    assert any(t[1] >= 400 for t in got)  # delta vectors actually serve

    # empty delta: no-op, NO re-stamp (no pointless stream failover)
    stamp1 = index_fingerprint(spark, idx)
    append_pq_index(embs.filter(F.col("vec_id") < 0), idx)
    assert index_fingerprint(spark, idx) == stamp1


def test_streaming_pq_append_guards_refuse_loudly(spark, tmp_path):
    """The `append_pq_index` premise guards, each with its DISTINCT
    message: unstamped root, non-PQ artifact, duplicate delta ids,
    ragged delta dimensions, and a torn codes/vecs artifact (the
    crash window between the two appends)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        append_pq_index,
        write_pq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 400)
    delta = embs.filter(F.col("vec_id") >= 400)

    with pytest.raises(ValueError, match="unstamped"):
        append_pq_index(delta, str(tmp_path / "nowhere"))

    other = str(tmp_path / "notpq")
    _write_index_fingerprint(spark, other, {"kind": "ivf"})
    with pytest.raises(ValueError, match="not a PQ index"):
        append_pq_index(delta, other)

    idx = str(tmp_path / "pq")
    write_pq_index(base, idx)
    with pytest.raises(ValueError, match="already present"):
        append_pq_index(embs.filter(F.col("vec_id") < 10), idx)

    ragged = spark.createDataFrame(
        [(9001, 1, [0.25] * 32)],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimensional"):
        append_pq_index(ragged, idx)

    # tear the artifact: one codes row lands without its vecs twin
    spark.read.parquet(idx + "/codes").limit(1).withColumn(
        "vec_id", F.lit(77777).cast("long")
    ).write.mode("append").parquet(idx + "/codes")
    with pytest.raises(ValueError, match="torn artifact"):
        append_pq_index(delta, idx)

    # ...and the PROBE constructor refuses the same tear (a torn
    # artifact would silently drop candidates from the shortlist
    # re-rank, wrong results not an error) -- shared _require_untorn
    # guard across the two-directory serving family
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        pq_topk_batches,
        stream_embeddings,
    )

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)
    with pytest.raises(ValueError, match="torn artifact"):
        pq_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/codes"),
            spark.read.parquet(idx + "/vecs"),
            spark.read.parquet(idx + "/codebooks"),
            str(tmp_path / "torn_out"),
        )

    # stamp-crash recovery: an append whose data writes landed but
    # whose re-stamp crashed leaves a consistent artifact under the
    # OLD nonce (retry refuses as double-append, pinned streams never
    # fail over) -- restamp_index refreshes the nonce and preserves
    # every knob stamp
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        restamp_index,
    )

    fp0 = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    restamp_index(spark, idx)
    fp1 = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    assert fp1["nonce"] != fp0["nonce"]
    assert {k: v for k, v in fp1.items() if k != "nonce"} == {
        k: v for k, v in fp0.items() if k != "nonce"
    }
    with pytest.raises(ValueError, match="not a stamped"):
        restamp_index(spark, str(tmp_path / "nothing"))


def test_probe_dedup_ttl_matches_unbounded_state(spark, tmp_path):
    """The opt-in TTL'd candidate dedup
    (`dropDuplicatesWithinWatermark` on an ingest-time watermark --
    the documented at-scale form whose state is bounded) produces the
    SAME output as the default unbounded `dropDuplicates` for a
    replay inside the TTL, for both the ANN and near-dup probes; the
    helper degrades to plain dropDuplicates on batch (non-streaming)
    frames, so the curation verdict plan's per-batch reuse is
    unaffected."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        ann_topk_batches,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = write_ann_index(embs, str(tmp_path / "ann"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)

    outs = []
    for tag, ttl in [("plain", None), ("ttl", "1 hour")]:
        out = str(tmp_path / f"out_{tag}")
        q = ann_topk_batches(
            ann_probe_stream(
                stream_embeddings(spark, qdir),
                spark.read.parquet(idx + "/bands"),
                spark.read.parquet(idx + "/vecs"),
                dedup_ttl=ttl,
            ),
            out,
            k=10,
            checkpoint=str(tmp_path / f"ck_{tag}"),
            index_path=idx,
        )
        q.awaitTermination(180)
        outs.append(sorted(map(tuple, spark.read.parquet(out).collect())))
    assert outs[0] == outs[1] and outs[0]

    # near-dup: the uniquely risky TTL chain (dropDuplicatesWithin-
    # Watermark followed by the shingle self-join -- a multi-stateful-
    # operator plan Spark only conditionally supports) must run AND
    # match the unbounded path on a replay inside the TTL
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        neardup_probe_stream,
        stream_documents,
        write_neardup_index,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "lang"
    )
    nd_idx = str(tmp_path / "nd_index")
    write_neardup_index(docs, nd_idx)
    docs_dir = str(tmp_path / "docs")
    docs.repartition(3).write.parquet(docs_dir)
    nd_outs = []
    for tag, ttl in [("plain", None), ("ttl", "1 hour")]:
        stream = neardup_probe_stream(
            stream_documents(spark, docs_dir),
            spark.read.parquet(nd_idx),
            dedup_ttl=ttl,
        )
        got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
        nd_outs.append(
            sorted(
                (r["doc_id"], r["index_doc_id"], r["jaccard"])
                for r in got.collect()
            )
        )
    assert nd_outs[0] == nd_outs[1] and nd_outs[0]

    # batch (non-streaming) frames degrade to plain dropDuplicates
    # even with a TTL set -- the curation verdict plan's per-batch
    # reuse path
    batch_hits = sorted(
        (r["doc_id"], r["index_doc_id"], r["jaccard"])
        for r in neardup_probe_stream(
            docs, spark.read.parquet(nd_idx), dedup_ttl="1 hour"
        ).collect()
    )
    assert batch_hits == nd_outs[0]

    # semantic and containment: the other two TTL chains must RUN in
    # CI (each is a watermarked dedup feeding a further stateful /
    # join stage Spark only conditionally supports) and match their
    # unbounded twins
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        containment_probe_stream,
        semantic_probe_stream,
        write_containment_index,
        write_semantic_index,
    )

    sem_idx = write_semantic_index(embs, str(tmp_path / "sem"))
    sem_outs = []
    for tag, ttl in [("plain", None), ("ttl", "1 hour")]:
        stream = semantic_probe_stream(
            stream_embeddings(spark, qdir),
            spark.read.parquet(sem_idx + "/bands"),
            spark.read.parquet(sem_idx + "/vecs"),
            threshold=0.2,
            dedup_ttl=ttl,
        )
        got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
        sem_outs.append(sorted(map(tuple, got.collect())))
    assert sem_outs[0] == sem_outs[1] and sem_outs[0]

    c_idx = write_containment_index(docs, str(tmp_path / "cont"))
    c_outs = []
    for tag, ttl in [("plain", None), ("ttl", "1 hour")]:
        stream = containment_probe_stream(
            stream_documents(spark, docs_dir).withColumn(
                "doc_id", F.col("doc_id") + 10000
            ),
            spark.read.parquet(c_idx + "/postings"),
            spark.read.parquet(c_idx + "/docs"),
            threshold=0.5,
            dedup_ttl=ttl,
        )
        got = run_stream(spark, stream, f"t_{uuid.uuid4().hex[:8]}")
        c_outs.append(sorted(map(tuple, got.collect())))
    assert c_outs[0] == c_outs[1] and c_outs[0]


def test_serving_index_build_knob_guards(spark, tmp_path):
    """Build-time knob guards added by the r15 review: quant bits
    outside [2, 8] refuse (tinyint storage would wrap wider codes
    silently and the coarse ranking would collapse); empty corpora
    refuse at build (a stamped-but-empty root would die later with a
    bare first()=None TypeError); and write_ivfpq_index's dim knob
    encodes non-default widths correctly (before the fix it hardwired
    EMBEDDING_DIM and null-padded every distance on a 32-dim
    corpus)."""
    import random

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _ivfpq_ranked_plan,
        write_ivfpq_index,
        write_matryoshka_index,
        write_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    empty = embs.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="bits=12 out of range"):
        write_quant_index(embs, str(tmp_path / "q12"), bits=12)
    with pytest.raises(ValueError, match="empty embeddings"):
        write_quant_index(empty, str(tmp_path / "qe"))
    with pytest.raises(ValueError, match="empty embeddings"):
        write_matryoshka_index(empty, str(tmp_path / "me"))

    rng = random.Random(7)
    narrow = spark.createDataFrame(
        [
            (i, rng.randrange(3), [rng.uniform(-1, 1) for _ in range(32)])
            for i in range(40)
        ],
        "vec_id long, label int, embedding array<double>",
    )
    idx = write_ivfpq_index(
        narrow, str(tmp_path / "ivfpq32"), n_lists=4, dim=32
    )
    cells = spark.read.parquet(idx + "/cells")
    # every stored code is a real (non-null) assignment
    assert (
        cells.filter(
            F.exists("codes", lambda c: c.isNull())
            | F.col("codes").isNull()
        ).count()
        == 0
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _load_codebooks,
    )

    ranked, done = _ivfpq_ranked_plan(
        narrow.filter(F.col("vec_id") < 3),
        cells,
        spark.read.parquet(idx + "/vecs"),
        _load_codebooks(spark.read.parquet(idx + "/codebooks")),
        spark.read.parquet(idx + "/centroids"),
        3,
        2,
        10,
        True,
    )
    rows = ranked.collect()
    done()
    assert len(rows) == 9 and all(r["cos_sim"] is not None for r in rows)


def test_streaming_ivf_append_assigns_frozen_nearest_cell(spark, tmp_path):
    """`append_ivf_index` lands each delta vector in its nearest
    stored FINAL-assignment cell -- pinned against a pure-Python
    argmin over the stored centroids (squared-L2 left-fold,
    (d2, cluster) ties) -- and probes over the appended artifact
    equal a pure-Python recompute of the IVF cascade (rank centroids,
    exact cosine over the probed cells' rows, unrounded-cos ordering,
    HALF_UP display rounding). Also pins the nonce re-stamp, the
    dup/ragged/kind guards, and the empty-delta no-op."""
    from decimal import ROUND_HALF_UP, Decimal

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        append_ivf_index,
        index_fingerprint,
        ivf_topk_batches,
        stream_embeddings,
        write_ivf_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 400)
    delta = embs.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivf")
    write_ivf_index(base, idx, n_lists=8, kmeans_iterations=3)
    stamp0 = index_fingerprint(spark, idx)
    append_ivf_index(delta, idx)
    assert index_fingerprint(spark, idx) != stamp0

    cents = sorted(
        (r["cluster"], list(r["centroid"]))
        for r in spark.read.parquet(idx + "/centroids").collect()
    )
    got_cells = {
        r["vec_id"]: r["cluster"]
        for r in spark.read.parquet(idx + "/cells")
        .filter(F.col("vec_id") >= 400)
        .collect()
    }
    raw = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in delta.collect()
    }
    assert len(got_cells) == len(raw) == 100
    for vid, vec in raw.items():
        want_cl = min(
            (sum((a - b) * (a - b) for a, b in zip(vec, c)), cl)
            for cl, c in cents
        )[1]
        assert got_cells[vid] == want_cl, vid

    # probes over the appended artifact == pure-Python IVF cascade
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id").isin([2, 405, 480])).write.parquet(qdir)
    out = str(tmp_path / "topk")
    cells = spark.read.parquet(idx + "/cells")
    q = ivf_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        spark.read.parquet(idx + "/centroids"),
        out,
        k=5,
        n_probe=2,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    cell_rows = cells.collect()
    vec_map = {r["vec_id"]: list(r["vec"]) for r in cell_rows}
    want = []
    for qid in [2, 405, 480]:
        rq = vec_map[qid]
        probed = {
            cl
            for _, cl in sorted(
                (sum((a - b) * (a - b) for a, b in zip(rq, c)), cl)
                for cl, c in cents
            )[:2]
        }
        qq = sum(a * a for a in rq)
        scored = []
        for r in cell_rows:
            if r["cluster"] not in probed or r["vec_id"] == qid:
                continue
            v = vec_map[r["vec_id"]]
            cos = sum(a * b for a, b in zip(rq, v)) / (
                qq ** 0.5 * sum(a * a for a in v) ** 0.5
            )
            scored.append((-cos, r["vec_id"], r["label"]))
        for rank, (neg_cos, vid, label) in enumerate(
            sorted(scored)[:5], start=1
        ):
            want.append(
                (
                    qid,
                    vid,
                    label,
                    rank,
                    float(
                        Decimal(repr(-neg_cos)).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                )
            )
        # delta vectors are retrievable through the frozen index
    assert got == sorted(want) and got
    assert any(t[1] >= 400 for t in got)

    # guards: wrong kind, dup ids, ragged dims; empty delta no-op
    other = str(tmp_path / "notivf")
    _write_index_fingerprint(spark, other, {"kind": "pq"})
    with pytest.raises(ValueError, match="not a IVF index"):
        append_ivf_index(delta, other)
    with pytest.raises(ValueError, match="already present"):
        append_ivf_index(embs.filter(F.col("vec_id") < 10), idx)
    ragged = spark.createDataFrame(
        [(9001, 1, [0.25] * 32)],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimensional"):
        append_ivf_index(ragged, idx)
    stamp1 = index_fingerprint(spark, idx)
    append_ivf_index(embs.filter(F.col("vec_id") < 0), idx)
    assert index_fingerprint(spark, idx) == stamp1


def test_streaming_ivfpq_append_encodes_under_both_frozen_models(
    spark, tmp_path
):
    """`append_ivfpq_index` assigns the delta's cells under the frozen
    coarse centroids AND its codes under the frozen codebooks -- both
    pinned against pure-Python recomputes -- and n_probe=2 probes over
    the appended multi-file artifact equal the shared pure-Python
    IVF-PQ cascade. Also pins the torn cells/vecs guard and the dup
    refusal."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_ivfpq_index,
        index_fingerprint,
        ivfpq_topk_batches,
        stream_embeddings,
        write_ivfpq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 400)
    delta = embs.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, idx, n_lists=8)
    stamp0 = index_fingerprint(spark, idx)
    append_ivfpq_index(delta, idx)
    assert index_fingerprint(spark, idx) != stamp0

    cells = spark.read.parquet(idx + "/cells")
    vecs = spark.read.parquet(idx + "/vecs")
    books_df = spark.read.parquet(idx + "/codebooks")
    cents_df = spark.read.parquet(idx + "/centroids")
    cent_rows = sorted(
        (r["cluster"], list(r["centroid"])) for r in cents_df.collect()
    )
    cb_rows = books_df.orderBy("s", "code").collect()
    n_sub = 1 + max(r["s"] for r in cb_rows)
    books: list[list[list[float]]] = [[] for _ in range(n_sub)]
    for r in cb_rows:
        books[r["s"]].append(list(r["centroid"]))
    d_sub = len(books[0][0])

    # appended rows: cluster == frozen-centroid argmin (raw space),
    # codes == frozen-codebook argmin (unit space), pure Python
    appended = {
        r["vec_id"]: (r["cluster"], list(r["codes"]))
        for r in cells.filter(F.col("vec_id") >= 400).collect()
    }
    raw = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in delta.collect()
    }
    assert len(appended) == len(raw) == 100
    for vid, vec in raw.items():
        want_cl = min(
            (sum((a - b) * (a - b) for a, b in zip(vec, c)), cl)
            for cl, c in cent_rows
        )[1]
        acc = 0.0
        for x in vec:
            acc = acc + x * x
        norm = acc ** 0.5
        uv = [x / norm for x in vec]
        want_codes = []
        for s in range(n_sub):
            sub = uv[s * d_sub : (s + 1) * d_sub]
            dists = []
            for c in books[s]:
                d = 0.0
                for a, b in zip(sub, c):
                    d = d + (a - b) * (a - b)
                dists.append(d)
            want_codes.append(dists.index(min(dists)))
        assert appended[vid] == (want_cl, want_codes), vid

    # probes over the appended artifact == the shared Python cascade
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id").isin([3, 420, 490])).write.parquet(qdir)
    out = str(tmp_path / "topk")
    n_lists_actual = cents_df.count()
    q = ivfpq_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        vecs,
        books_df,
        cents_df,
        out,
        k=5,
        n_probe=2,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = _ivfpq_pure_python_topk(
        cells.collect(),
        {r["vec_id"]: list(r["v"]) for r in vecs.collect()},
        cent_rows,
        books,
        {qid: raw.get(qid) or _raw_vec(embs, qid) for qid in [3, 420, 490]},
        k=5,
        n_probe=2,
        # the serving default sizes off the APPENDED cells count (600)
        shortlist=max(8 * 5, 600 * 2 // (8 * n_lists_actual)),
    )
    assert got == want and got
    assert any(t[1] >= 400 for t in got)

    # torn artifact (a vecs row with no cells twin) refuses; dups refuse
    vecs.limit(1).withColumn(
        "vec_id", F.lit(88888).cast("long")
    ).write.mode("append").parquet(idx + "/vecs")
    with pytest.raises(ValueError, match="torn artifact"):
        append_ivfpq_index(delta, idx)


def _raw_vec(embs, vid):
    row = embs.filter(F.col("vec_id") == vid).collect()[0]
    return [float(x) for x in row["embedding"]]


@pytest.mark.parametrize("probe_dim", [16, 64])
def test_streaming_matryoshka_topk_matches_python_cascade(
    spark, tmp_path, probe_dim
):
    """Streaming truncated-width serving (prefix-cosine shortlist +
    exact full-width rerank through the shared `pq_shortlist_rerank`
    tail) equals a pure-Python recompute of the cascade -- prefix
    cosine with left-fold dots, (-cos, vec_id) shortlist order,
    exact-dot rerank with HALF_UP display rounding. At probe_dim=64
    (== dim) the prefix IS the vector, so the same pin doubles as the
    exact-brute-force collapse check. Also pins the stale-pin
    refusal and that the prefix artifact carries probe_dim floats."""
    from decimal import ROUND_HALF_UP, Decimal

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        index_fingerprint,
        matryoshka_topk_batches,
        stream_embeddings,
        write_matryoshka_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "mat")
    write_matryoshka_index(embs, idx, probe_dim=probe_dim)
    prefixes = spark.read.parquet(idx + "/prefixes")
    vecs = spark.read.parquet(idx + "/vecs")
    assert len(prefixes.select("vp").first()["vp"]) == probe_dim

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 4).repartition(2).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = matryoshka_topk_batches(
        stream_embeddings(spark, qdir),
        prefixes,
        vecs,
        out,
        k=5,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    pref_rows = prefixes.collect()
    vec_map = {r["vec_id"]: list(r["v"]) for r in vecs.collect()}
    shortlist = max(8 * 5, 500 // 8)
    want = []
    for qid in range(4):
        uq = vec_map[qid]
        qp = uq[:probe_dim]
        qpn = sum(a * a for a in qp) ** 0.5
        cands = []
        for r in pref_rows:
            if r["vec_id"] == qid:
                continue
            vp = list(r["vp"])
            c = sum(a * b for a, b in zip(qp, vp)) / (
                qpn * sum(a * a for a in vp) ** 0.5
            )
            cands.append((-c, r["vec_id"], r["label"]))
        cands.sort()
        for rank, (neg_cos, vid, label) in enumerate(
            sorted(
                (
                    -float(
                        Decimal(
                            repr(sum(a * b for a, b in zip(uq, vec_map[vid])))
                        ).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                    vid,
                    label,
                )
                for _, vid, label in cands[: max(shortlist, 5)]
            )[:5],
            start=1,
        ):
            want.append((qid, vid, label, rank, -neg_cos))
    assert got == sorted(want) and got

    # stale pin refuses after a rebuild
    stale = index_fingerprint(spark, idx)
    write_matryoshka_index(
        embs.filter(F.col("vec_id") < 200), idx, probe_dim=probe_dim
    )
    with pytest.raises(RuntimeError, match="matryoshka index .* overwritten"):
        matryoshka_topk_batches(
            stream_embeddings(spark, qdir),
            prefixes,
            vecs,
            str(tmp_path / "stale_out"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def test_streaming_matryoshka_append_is_premise_free(spark, tmp_path):
    """`append_matryoshka_index` has no model to freeze (prefixes are
    per-row facts), so append-then-probe equals rebuild-then-probe
    with no premise: the two artifacts' probe outputs are compared
    row-for-row. Guards: wrong kind, dup ids, ragged dims, torn
    prefixes/vecs; empty delta is a no-op without a re-stamp."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        append_matryoshka_index,
        index_fingerprint,
        matryoshka_topk_batches,
        stream_embeddings,
        write_matryoshka_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 400)
    delta = embs.filter(F.col("vec_id") >= 400)
    idx = str(tmp_path / "mat")
    write_matryoshka_index(base, idx, probe_dim=16)
    stamp0 = index_fingerprint(spark, idx)
    append_matryoshka_index(delta, idx)
    assert index_fingerprint(spark, idx) != stamp0
    rebuilt = str(tmp_path / "mat_rebuilt")
    write_matryoshka_index(embs, rebuilt, probe_dim=16)

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id").isin([7, 430])).write.parquet(qdir)
    outs = []
    for name, root in [("app", idx), ("reb", rebuilt)]:
        out = str(tmp_path / f"topk_{name}")
        q = matryoshka_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(root + "/prefixes"),
            spark.read.parquet(root + "/vecs"),
            out,
            k=5,
            checkpoint=str(tmp_path / f"ckpt_{name}"),
            index_path=root,
        )
        q.awaitTermination(180)
        outs.append(sorted(map(tuple, spark.read.parquet(out).collect())))
    assert outs[0] == outs[1] and outs[0]
    assert any(t[1] >= 400 for t in outs[0])

    other = str(tmp_path / "notmat")
    _write_index_fingerprint(spark, other, {"kind": "pq"})
    with pytest.raises(ValueError, match="not a matryoshka index"):
        append_matryoshka_index(delta, other)
    with pytest.raises(ValueError, match="already present"):
        append_matryoshka_index(embs.filter(F.col("vec_id") < 10), idx)
    ragged = spark.createDataFrame(
        [(9001, 1, [0.25] * 32)],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimensional"):
        append_matryoshka_index(ragged, idx)
    spark.read.parquet(idx + "/vecs").limit(1).withColumn(
        "vec_id", F.lit(88888).cast("long")
    ).write.mode("append").parquet(idx + "/vecs")
    with pytest.raises(ValueError, match="torn artifact"):
        append_matryoshka_index(delta, idx)
    # the torn tear above also proves the guard ordering; empty-delta
    # no-op is pinned on the PQ twin (same code path)


@pytest.mark.parametrize("bits", [2, 8])
def test_streaming_quant_topk_matches_python_cascade(spark, tmp_path, bits):
    """Streaming b-bit quantized serving (code-cosine shortlist +
    exact rerank through the shared tail) equals a pure-Python
    recompute of the whole cascade: per-vector amax/max_code scale,
    banker's rounding via Decimal(repr(x)) ROUND_HALF_EVEN (Java
    BigDecimal.valueOf semantics), byte-code cosine with left-fold
    dots, (-cos, vec_id) shortlist order, exact-dot rerank with
    HALF_UP display rounding. Runs at the evaluator's near-lossless
    (b=8) and provably-lossy (b=2) rungs -- exactness is identical,
    only recall differs. Also pins that the artifact stores tinyint
    codes and the premise-free append (append-then-probe ==
    rebuild-then-probe row-for-row)."""
    from decimal import ROUND_HALF_EVEN, ROUND_HALF_UP, Decimal

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_quant_index,
        quant_topk_batches,
        stream_embeddings,
        write_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "quant")
    write_quant_index(embs, idx, bits=bits)
    codes = spark.read.parquet(idx + "/codes")
    vecs = spark.read.parquet(idx + "/vecs")
    assert dict(codes.dtypes)["q"] == "array<tinyint>"

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 4).repartition(2).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = quant_topk_batches(
        stream_embeddings(spark, qdir),
        codes,
        vecs,
        out,
        k=5,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    max_code = (1 << (bits - 1)) - 1
    raw = {
        r["vec_id"]: ([float(x) for x in r["embedding"]], r["label"])
        for r in embs.collect()
    }
    py_codes = {}
    for vid, (vec, label) in raw.items():
        amax = max(abs(x) for x in vec)
        scale = amax / float(max_code)
        if scale > 0:
            cv = [
                float(
                    Decimal(repr(x / scale)).quantize(
                        Decimal("1"), rounding=ROUND_HALF_EVEN
                    )
                )
                for x in vec
            ]
        else:
            cv = [0.0] * len(vec)
        py_codes[vid] = cv
    # the stored tinyint codes ARE the shared-rule quantization
    stored = {r["vec_id"]: [float(x) for x in r["q"]] for r in codes.collect()}
    assert stored == py_codes

    unit = {}
    for vid, (vec, label) in raw.items():
        acc = 0.0
        for x in vec:
            acc = acc + x * x
        n = acc ** 0.5
        unit[vid] = [x / n for x in vec]
    shortlist = max(8 * 5, 500 // 8)
    want = []
    for qid in range(4):
        uq = unit[qid]
        qn = sum(a * a for a in uq) ** 0.5
        cands = []
        for vid, cv in py_codes.items():
            if vid == qid:
                continue
            num = sum(a * b for a, b in zip(uq, cv))
            den = qn * sum(a * a for a in cv) ** 0.5
            cands.append((-(num / den), vid, raw[vid][1]))
        cands.sort()
        for rank, (neg_cos, vid, label) in enumerate(
            sorted(
                (
                    -float(
                        Decimal(
                            repr(sum(a * b for a, b in zip(uq, unit[vid])))
                        ).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                    vid,
                    label,
                )
                for _, vid, label in cands[: max(shortlist, 5)]
            )[:5],
            start=1,
        ):
            want.append((qid, vid, label, rank, -neg_cos))
    assert got == sorted(want) and got

    # premise-free append: append-then-probe == rebuild-then-probe
    idx2 = str(tmp_path / "quant_app")
    write_quant_index(embs.filter(F.col("vec_id") < 400), idx2, bits=bits)
    append_quant_index(embs.filter(F.col("vec_id") >= 400), idx2)
    out2 = str(tmp_path / "topk_app")
    q2 = quant_topk_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(idx2 + "/codes"),
        spark.read.parquet(idx2 + "/vecs"),
        out2,
        k=5,
        checkpoint=str(tmp_path / "ckpt_app"),
        index_path=idx2,
    )
    q2.awaitTermination(180)
    assert sorted(map(tuple, spark.read.parquet(out2).collect())) == got


def test_compact_serving_index_preserves_probes(spark, tmp_path):
    """`compact_serving_index` is a pure optimization: compacting a
    multiply-appended PQ artifact shrinks its file count and leaves
    probe output IDENTICAL row-for-row; the BM25 stats log merges to
    its one-row SUM with bit-exact probe scores; the nonce re-stamps
    (pinned running streams fail over); a stale backup dir from a
    crashed compaction refuses; kind-less and unstamped roots
    refuse."""
    import glob

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_bm25_index,
        append_pq_index,
        bm25_topk_batches,
        compact_serving_index,
        index_fingerprint,
        pq_topk_batches,
        stream_embeddings,
        stream_keyword_queries,
        write_bm25_index,
        write_pq_index,
        _write_index_fingerprint,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "pq")
    write_pq_index(embs.filter(F.col("vec_id") < 300), idx)
    append_pq_index(
        embs.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), idx
    )
    append_pq_index(embs.filter(F.col("vec_id") >= 400), idx)

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id").isin([2, 350, 450])).write.parquet(qdir)

    def probe(tag):
        out = str(tmp_path / f"out_{tag}")
        q = pq_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/codes"),
            spark.read.parquet(idx + "/vecs"),
            spark.read.parquet(idx + "/codebooks"),
            out,
            k=5,
            checkpoint=str(tmp_path / f"ck_{tag}"),
            index_path=idx,
        )
        q.awaitTermination(180)
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    before = probe("before")
    files_before = len(glob.glob(idx + "/codes/*.parquet"))
    stamp0 = index_fingerprint(spark, idx)
    compact_serving_index(spark, idx)
    files_after = len(glob.glob(idx + "/codes/*.parquet"))
    assert files_after < files_before  # three generations collapse
    assert index_fingerprint(spark, idx) != stamp0  # failover re-stamp
    assert probe("after") == before and before

    # crashed-compaction residue refuses until resolved
    import os

    os.makedirs(idx + "/codes.compact-backup")
    with pytest.raises(IOError, match="stale backup"):
        compact_serving_index(spark, idx)
    os.rmdir(idx + "/codes.compact-backup")

    # BM25: postings rewrite + stats log merges to its one-row SUM
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bidx = str(tmp_path / "bm25")
    write_bm25_index(docs.filter(F.col("doc_id") < 250), bidx)
    append_bm25_index(docs.filter(F.col("doc_id") >= 250), bidx)
    kdir = str(tmp_path / "kq")
    spark.createDataFrame(
        [(0, "dup spark scan join")], "query_id long, keywords string"
    ).coalesce(1).write.parquet(kdir)

    def kprobe(tag):
        out = str(tmp_path / f"kout_{tag}")
        q = bm25_topk_batches(
            stream_keyword_queries(spark, kdir),
            spark.read.parquet(bidx + "/postings"),
            spark.read.parquet(bidx + "/stats"),
            out,
            checkpoint=str(tmp_path / f"kck_{tag}"),
            index_path=bidx,
        )
        q.awaitTermination(120)
        return sorted(map(tuple, spark.read.parquet(out).collect()))

    kbefore = kprobe("before")
    assert spark.read.parquet(bidx + "/stats").count() == 2  # two increments
    compact_serving_index(spark, bidx)
    assert spark.read.parquet(bidx + "/stats").count() == 1  # merged SUM
    assert kprobe("after") == kbefore and kbefore

    # unsupported / unstamped roots refuse distinctly
    other = str(tmp_path / "kindless")
    _write_index_fingerprint(spark, other, {"bands": 32})
    with pytest.raises(ValueError, match="no registered compaction"):
        compact_serving_index(spark, other)
    with pytest.raises(ValueError, match="no fingerprint"):
        compact_serving_index(spark, str(tmp_path / "nowhere"))


def test_streaming_funnel_matches_batch_under_reverse_replay(spark, tmp_path):
    """Exact out-of-order funnel: replay the sf0.001 events corpus in
    REVERSE timestamp order across 5 micro-batches, so nearly every
    batch delivers views EARLIER than clicks/purchases already seen --
    the retroactive-eligibility case the state's retention rule
    exists for. The collapsed stream state must equal the batch
    ladder per user, and its aggregation must equal the event_funnel
    query row-for-row."""
    from .conftest import SF_SMOKE
    from big_data_streaming_dashboard_spark.plans.relational4 import (
        event_funnel,
        funnel_user_stages,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        funnel_latest,
        funnel_state_stream,
        funnel_counts,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "event_type", "ts"
    )
    rows = ev.orderBy(F.col("ts").desc()).collect()
    src = str(tmp_path / "events_rev")
    n_files = 5
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        spark.createDataFrame(part, ev.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"funnel_{uuid.uuid4().hex[:8]}"
    emitted = run_stream(spark, funnel_state_stream(stream), name)
    # the reverse replay must actually have produced multi-batch
    # per-user state updates, or the test is vacuous
    assert emitted.agg(F.max("seq")).collect()[0][0] >= 3
    latest = funnel_latest(emitted)

    truth = funnel_user_stages(ev)
    got = {r["user_id"]: (r["first_view"], r["first_click"], r["first_purchase"])
           for r in latest.collect()}
    want = {r["user_id"]: (r["first_view"], r["first_click"], r["first_purchase"])
            for r in truth.collect()}
    # stream emits a row for every user that ever appeared, including
    # users with no view (all-null stages); batch truth starts at views
    for uid, stages in want.items():
        assert got[uid] == stages, uid
    for uid, stages in got.items():
        if uid not in want:
            assert stages[0] is None, (uid, stages)

    # aggregated funnel table == the registered batch query, row-for-row
    stream_funnel = sorted(
        tuple(r) for r in funnel_counts(
            latest.filter(F.col("first_view").isNotNull())
        ).collect()
    )
    batch_funnel = sorted(tuple(r) for r in event_funnel(spark, SF_SMOKE).collect())
    assert stream_funnel == batch_funnel


def test_streaming_funnel_retroactive_view_reopens_pruned_click(spark, tmp_path):
    """The retention rule's load-bearing case: batch 1 delivers clicks
    at t=10 and t=30 plus a view at t=15 (answer: click@30); batch 2
    delivers an EARLIER view at t=5, which retroactively makes the
    click@10 eligible. An operator that kept only the current answer
    would still say click@30; the exact state must flip to click@10
    (and the purchase answer must follow its click floor down)."""
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        funnel_latest,
        funnel_state_stream,
    )

    def ts(sec):
        return f"2024-01-01 00:00:{sec:02d}"

    batches = [
        [(1, "click", ts(10)), (1, "click", ts(30)), (1, "view", ts(15)),
         (1, "purchase", ts(40)), (1, "purchase", ts(20))],
        [(1, "view", ts(5))],
    ]
    src = str(tmp_path / "funnel_retro")
    for rows in batches:
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts string"
        ).select(
            "user_id", "event_type", F.to_timestamp("ts").alias("ts")
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"funnel_retro_{uuid.uuid4().hex[:8]}"
    emitted = run_stream(spark, funnel_state_stream(stream), name)
    assert emitted.agg(F.max("seq")).collect()[0][0] == 2
    row = funnel_latest(emitted).collect()[0]
    assert row["first_view"].second == 5
    # click@10 must have been RETAINED through batch 1 (it was <= the
    # then-answer under the prune rule) and now wins
    assert row["first_click"].second == 10
    # purchase floor dropped from click@30 to click@10 -> purchase@20
    assert row["first_purchase"].second == 20


def test_streaming_retention_matches_batch_under_reverse_replay(spark, tmp_path):
    """Cohort retention streamed: reverse-timestamp replay delivers
    most users' EARLIEST week last, so cohort assignments shift
    mid-stream and the changelog must re-emit corrected offset
    vectors. The latest rows must aggregate to the batch retention
    triangle row-for-row."""
    from .conftest import SF_SMOKE
    from big_data_streaming_dashboard_spark.plans.relational4 import (
        weekly_cohort_retention,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        retention_latest,
        retention_state_stream,
        retention_triangle,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "ts")
    rows = ev.orderBy(F.col("ts").desc()).collect()
    src = str(tmp_path / "events_ret")
    n_files = 4
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        spark.createDataFrame(
            rows[i * chunk : (i + 1) * chunk], ev.schema
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"ret_{uuid.uuid4().hex[:8]}"
    emitted = run_stream(spark, retention_state_stream(stream), name)
    assert emitted.agg(F.max("seq")).collect()[0][0] >= 3
    got = sorted(
        tuple(r)
        for r in retention_triangle(retention_latest(emitted)).collect()
    )
    want = sorted(
        tuple(r) for r in weekly_cohort_retention(spark, SF_SMOKE).collect()
    )
    assert got == want


def test_streaming_anomaly_verdicts_match_batch(spark, tmp_path):
    """Trailing-day anomaly alerting streamed: under the documented
    parity contract (event-time-ordered arrival, micro-batch
    boundaries on whole seconds) every verdict sees exactly the batch
    RANGE frame's contents, so the streamed anomaly set must equal
    value_anomalies row-for-row -- including the integer z-test and
    the n >= 20 floor. sf0.01 (the driver's correctness scale: 869
    batch anomalies, so the parity is far from vacuous)."""
    from big_data_streaming_dashboard_spark.plans.relational4 import (
        value_anomalies,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        anomaly_table,
        anomaly_verdict_stream,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    rows = ev.orderBy("ts", "event_id").collect()
    # split into 4 micro-batches on whole-second boundaries
    secs = sorted({int(r["ts"].timestamp()) for r in rows})
    cuts = {secs[len(secs) // 4], secs[len(secs) // 2], secs[3 * len(secs) // 4]}
    src = str(tmp_path / "events_anom")
    batch_rows, prev = [], None
    for r in rows:
        s = int(r["ts"].timestamp())
        if prev is not None and s in cuts and prev not in cuts:
            spark.createDataFrame(batch_rows, ev.schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            batch_rows = []
        batch_rows.append(r)
        prev = s
    spark.createDataFrame(batch_rows, ev.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    n_files = len(
        [f for f in __import__("os").listdir(src) if f.endswith(".parquet")]
    )
    assert n_files >= 4, n_files

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"anom_{uuid.uuid4().hex[:8]}"
    got_df = anomaly_table(
        run_stream(spark, anomaly_verdict_stream(stream), name)
    )
    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in value_anomalies(spark, sf).collect())
    assert len(want) > 500  # non-vacuous
    assert got == want


def test_streaming_anomaly_refuses_post_horizon_arrival(spark, tmp_path):
    """An event arriving so late that its trailing window reaches
    before the pruned per-second horizon must kill the stream loudly
    (the ordered-arrival contract's enforcement point) -- never
    silently emit a truncated-window verdict."""
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        anomaly_verdict_stream,
    )

    batches = [
        # batch 1 spans 3 days -> horizon moves to day 3 - 1
        [(1, "2024-01-01 00:00:00", 1.0), (2, "2024-01-03 12:00:00", 2.0)],
        # batch 2 delivers an event on day 1 -- window reaches pre-horizon
        [(3, "2024-01-01 06:00:00", 3.0)],
    ]
    src = str(tmp_path / "anom_late")
    for rows in batches:
        spark.createDataFrame(
            rows, "event_id long, ts string, value double"
        ).select(
            "event_id",
            F.lit("view").alias("event_type"),
            F.to_timestamp("ts").alias("ts"),
            "value",
        ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    name = f"anom_late_{uuid.uuid4().hex[:8]}"
    q = (
        anomaly_verdict_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="pruned horizon"):
        q.awaitTermination(120)


def test_streaming_anomaly_delayed_matches_batch_under_shuffled_replay(
    spark, tmp_path
):
    """r13 (r12 verdict item 4): the watermark-delayed anomaly mode is
    exact under BOUNDED disorder -- replaying sf0.01 SHUFFLED (seeded
    block shuffle, so arrival is decidedly not event-time-ordered)
    with a delay >= the replay's measured disorder bound must still
    match value_anomalies row-for-row. The run is split in two phases
    sharing one checkpoint: phase 1 replays the shuffled data (and
    must emit a strict, non-empty SUBSET -- progressive watermark-gated
    emission, not a degenerate end-flush) and phase 2 appends one far-
    future flush sentinel whose watermark advance fires the event-time
    timeouts that drain every held tail. Zero rows may be dropped by
    the watermark (that would mean the delay did not cover the
    disorder and the parity was vacuous)."""
    from big_data_streaming_dashboard_spark.plans.relational4 import (
        value_anomalies,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        anomaly_table,
        anomaly_verdict_stream_delayed,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    import random
    import time

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    rows = ev.orderBy("ts", "event_id").collect()
    # seeded block shuffle: disorder bounded by ~2 consecutive block
    # spans (500 rows ~ 1.5 days at sf0.01 density), measured exactly
    # below rather than assumed
    rng = random.Random(13)
    shuffled = []
    for i in range(0, len(rows), 500):
        blk = rows[i : i + 500]
        rng.shuffle(blk)
        shuffled.extend(blk)
    assert [r["event_id"] for r in shuffled] != [
        r["event_id"] for r in rows
    ]
    # required delay = max arrival lateness in the replay + margin
    prefix_max, d_req = None, 0.0
    for r in shuffled:
        t = r["ts"].timestamp()
        if prefix_max is None or t > prefix_max:
            prefix_max = t
        d_req = max(d_req, prefix_max - t)
    delay_s = int(d_req) + 3
    max_ts = max(r["ts"] for r in rows)
    span_s = max_ts.timestamp() - min(r["ts"] for r in rows).timestamp()
    assert delay_s < span_s / 3  # else emission could not be progressive

    src = str(tmp_path / "events_anom_shuf")
    quarter = (len(shuffled) + 3) // 4
    for i in range(0, len(shuffled), quarter):
        spark.createDataFrame(
            shuffled[i : i + quarter], ev.schema
        ).coalesce(1).write.mode("append").parquet(src)
        time.sleep(0.1)  # distinct mtimes: file source replays oldest-first

    ckpt = str(tmp_path / "anom_shuf_ckpt")
    out = str(tmp_path / "anom_shuf_out")

    def run_phase():
        # parquet sink, not memory: the memory sink refuses checkpoint
        # recovery and phase 2 must resume phase 1's state
        from big_data_streaming_dashboard_spark.streaming.funnel import (
            ANOMALY_OUTPUT_SCHEMA,
        )

        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            anomaly_verdict_stream_delayed(stream, delay=f"{delay_s} seconds")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        dropped = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for op in p.get("stateOperators", [])
        )
        return spark.read.schema(ANOMALY_OUTPUT_SCHEMA).parquet(out), dropped

    want = sorted(
        tuple(r) for r in value_anomalies(spark, sf).collect()
    )
    assert len(want) > 500  # non-vacuous

    p1, dropped1 = run_phase()
    got1 = sorted(tuple(r) for r in anomaly_table(p1).collect())
    assert dropped1 == 0
    assert 0 < len(got1) < len(want), (len(got1), len(want))

    # phase 2: one far-future sentinel (its own 1-event group never
    # reaches min_n) pushes the watermark past every data second
    import datetime

    sentinel_ts = max_ts + datetime.timedelta(seconds=delay_s + 10)
    spark.createDataFrame(
        [(10**9, "__flush__", sentinel_ts, 0.0)], ev.schema
    ).coalesce(1).write.mode("append").parquet(src)
    p2, dropped2 = run_phase()
    got2 = sorted(tuple(r) for r in anomaly_table(p2).collect())
    assert dropped2 == 0
    assert len(got2) > len(got1)  # the held tail actually drained

    assert got2 == want


def test_analytics_surface_refuses_unknown_anomaly_mode(spark, tmp_path):
    """The unified surface's anomaly-mode dispatch is a contract
    switch -- an unknown mode must refuse before any query starts
    (never silently fall back to a different exactness contract)."""
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        analytics_verdict_batches,
    )

    with pytest.raises(ValueError, match="unknown anomaly_mode"):
        analytics_verdict_batches(
            spark.range(1),
            str(tmp_path / "root"),
            str(tmp_path / "ckpt"),
            anomaly_mode="bogus",
        )


def test_streaming_anomaly_delayed_refuses_nonzero_offset_session(spark):
    """The delayed mode's watermark gate rides cast(ts as timestamp);
    a non-UTC session timezone would shift it against the batch plan's
    wall-clock seconds -- the operator must refuse at plan time, not
    silently mis-gate."""
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        anomaly_verdict_stream_delayed,
    )

    orig = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="zero-offset"):
            anomaly_verdict_stream_delayed(spark.range(1))
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_streaming_analytics_surface_matches_batch(spark, tmp_path):
    """r12 (r11 verdict item 5): the unified product-analytics
    capstone -- ONE ordered replay of the sf0.01 events corpus drives
    funnel + retention + anomaly under one output root, and ALL THREE
    finished tables equal their batch counterparts row-for-row
    (event_funnel / weekly_cohort_retention / value_anomalies). The
    replay honors the strictest constituent contract (anomaly's
    event-time order on whole-second micro-batch boundaries), which
    funnel and retention tolerate by construction. Also pins the
    single-surface guarantee: a root missing a surface refuses."""
    import pytest

    from big_data_streaming_dashboard_spark.plans.relational4 import (
        event_funnel,
        value_anomalies,
        weekly_cohort_retention,
    )
    from big_data_streaming_dashboard_spark.streaming.funnel import (
        analytics_tables,
        analytics_verdict_batches,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.01"
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    rows = ev.orderBy("ts", "event_id").collect()
    secs = sorted({int(r["ts"].timestamp()) for r in rows})
    cuts = {secs[len(secs) // 4], secs[len(secs) // 2], secs[3 * len(secs) // 4]}
    src = str(tmp_path / "events_uni")
    batch_rows, prev = [], None
    for r in rows:
        s = int(r["ts"].timestamp())
        if prev is not None and s in cuts and prev not in cuts:
            spark.createDataFrame(batch_rows, ev.schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
            batch_rows = []
        batch_rows.append(r)
        prev = s
    spark.createDataFrame(batch_rows, ev.schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_root = str(tmp_path / "analytics")
    queries = analytics_verdict_batches(
        stream, out_root, checkpoint=str(tmp_path / "ckpt")
    )
    assert len(queries) == 3
    for q in queries:
        q.awaitTermination(300)

    got = analytics_tables(spark, out_root)

    f_got = sorted(tuple(r) for r in got["funnel"].collect())
    f_want = sorted(tuple(r) for r in event_funnel(spark, sf).collect())
    assert f_want[0][2] > f_want[1][2] > f_want[2][2] > 0  # discriminating
    assert f_got == f_want

    r_got = sorted(tuple(r) for r in got["retention"].collect())
    r_want = sorted(
        tuple(r) for r in weekly_cohort_retention(spark, sf).collect()
    )
    assert len(r_want) > 3
    assert r_got == r_want

    a_got = sorted(tuple(r) for r in got["anomalies"].collect())
    a_want = sorted(tuple(r) for r in value_anomalies(spark, sf).collect())
    assert len(a_want) > 500
    assert a_got == a_want

    # single-surface guarantee: a partial tree refuses loudly
    import shutil

    # r12 ADVICE: corruption under an EXISTING surface must surface
    # as itself, never mislabeled "its query never ran" (the explicit
    # read schema makes content errors lazy, so they reach the caller
    # as Spark's own scan error carrying the real cause)
    import glob as _glob

    victim = sorted(_glob.glob(out_root + "/anomalies/*.parquet"))[0]
    with open(victim, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as exc_info:
        analytics_tables(spark, out_root)["anomalies"].collect()
    assert "never ran" not in str(exc_info.value)

    shutil.rmtree(out_root + "/retention")
    with pytest.raises(RuntimeError, match="surface 'retention' missing"):
        analytics_tables(spark, out_root)
    with pytest.raises(RuntimeError, match="no readable manifest"):
        analytics_tables(spark, str(tmp_path / "not_a_root"))


def test_streaming_drift_matches_batch(spark, tmp_path):
    """r12 streaming drift monitor, three pins: (1) replaying the
    baseline corpus itself in one batch yields drift EXACTLY 0.0 for
    every source (a mathematical identity, not a comparison against
    our own code); (2) per-micro-batch verdicts equal the batch twin
    `drift_against_baseline` on the same slice; (3) a source absent
    from the baseline emits a NULL-drift row (the new-source signal
    rides in the data)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        drift_against_baseline,
        drift_verdict_batches,
        write_drift_baseline,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    embs = load_table(spark, sf, "embeddings")
    base_root = str(tmp_path / "baseline")
    write_drift_baseline(docs, embs, base_root)

    sourced = embs.join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    ).select("vec_id", "embedding", "source")

    # (1) self-replay in ONE batch -> drift 0.0 everywhere
    src_all = str(tmp_path / "replay_all")
    sourced.coalesce(1).write.parquet(src_all)
    schema = spark.read.parquet(src_all).schema
    out1 = str(tmp_path / "out1")
    q = drift_verdict_batches(
        spark.readStream.schema(schema).parquet(src_all),
        base_root,
        out1,
        checkpoint=str(tmp_path / "ck1"),
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(out1).collect()
    assert rows and all(r["drift_l2sq"] == 0.0 for r in rows)
    assert all(r["n_arrived"] == r["n_baseline"] for r in rows)

    # (2) per-batch parity on 2 slices + (3) a baseline-unknown source
    h = F.abs(F.hash("vec_id") % 2)
    slices = [sourced.filter(h == i) for i in range(2)]
    novel = slices[1].limit(3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        F.lit("src_new").alias("source"),
    )
    slices[1] = slices[1].unionByName(novel)
    src_dir = str(tmp_path / "replay_sliced")
    for s in slices:
        s.coalesce(1).write.mode("append").parquet(src_dir)
        import time as _t

        _t.sleep(0.2)  # mtime order = batch order
    out2 = str(tmp_path / "out2")
    q = drift_verdict_batches(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir),
        base_root,
        out2,
        checkpoint=str(tmp_path / "ck2"),
    )
    q.awaitTermination(180)
    got = spark.read.parquet(out2)
    assert got.select("batch_id").distinct().count() == 2
    for b, sl in enumerate(slices):
        g = sorted(
            tuple(r)
            for r in got.filter(F.col("batch_id") == b)
            .drop("batch_id")
            .collect()
        )
        want = sorted(tuple(r) for r in drift_against_baseline(
            sl, spark.read.parquet(base_root + "/means")
        ).collect())
        assert g == want, f"batch {b} mismatch"
    new_rows = got.filter(F.col("source") == "src_new").collect()
    assert len(new_rows) == 1
    assert new_rows[0]["drift_l2sq"] is None
    assert new_rows[0]["n_baseline"] is None
    assert new_rows[0]["n_arrived"] == 3
    # non-vacuity: sliced replays genuinely drift (subset centroids
    # differ from the full-corpus baseline)
    assert got.filter(
        (F.col("source") != "src_new") & (F.col("drift_l2sq") > 0)
    ).count() > 0

    # (4) r12 ADVICE: a KNOWN source arriving with a different
    # embedding dimension (either direction) is schema drift -- the
    # verdict must be NULL drift with n_baseline kept non-NULL (so a
    # dashboard can tell it from the new-source signal), never a sum
    # over whatever positions happened to align
    base_means = spark.read.parquet(base_root + "/means")
    dim = len(sourced.first()["embedding"])
    shrunk = sourced.limit(5).select(
        "vec_id", F.slice("embedding", 1, dim // 2).alias("embedding"),
        "source",
    )
    grown = sourced.limit(5).select(
        "vec_id",
        F.concat("embedding", F.array(F.lit(0.0))).alias("embedding"),
        "source",
    )
    for bad in (shrunk, grown):
        verdicts = drift_against_baseline(bad, base_means).collect()
        assert verdicts
        for r in verdicts:
            assert r["drift_l2sq"] is None
            assert r["n_baseline"] is not None


def test_streaming_drift_baseline_rebuild_fails_loudly(spark, tmp_path):
    """The drift probe's stream-static argument holds only while the
    baseline is STATIC (same rule as the ANN/curation artifacts): a
    probe pinned to a nonce that a rebuild has since replaced must
    refuse at the first batch, never silently mix baselines. Also
    pins that the rebuild actually re-stamps the nonce."""
    import pytest

    from pyspark.sql.streaming import StreamingQueryException

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        drift_verdict_batches,
        index_fingerprint,
        write_drift_baseline,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    embs = load_table(spark, sf, "embeddings")
    base_root = str(tmp_path / "baseline")
    write_drift_baseline(docs, embs, base_root)
    stale = index_fingerprint(spark, base_root)

    sourced = embs.join(
        docs.select(F.col("doc_id").alias("vec_id"), "source"), "vec_id"
    ).select("vec_id", "embedding", "source")
    src_dir = str(tmp_path / "replay")
    sourced.limit(20).coalesce(1).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    # rebuild re-stamps
    write_drift_baseline(docs.limit(100), embs, base_root)
    assert index_fingerprint(spark, base_root) != stale

    q = drift_verdict_batches(
        spark.readStream.schema(schema).parquet(src_dir),
        base_root,
        str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ck"),
        expected_fingerprint=stale,
    )
    with pytest.raises(StreamingQueryException, match="rebuilt under"):
        q.awaitTermination(120)
        raise AssertionError("stale-pinned drift probe did not refuse")


def test_streaming_hybrid_rrf_matches_batch(spark, tmp_path):
    """Streaming hybrid retrieval (RRF over the once-computed lexical
    list and the per-arrival dense ranking) equals the batch
    `hybrid_rrf_topk_per_query` exactly for every streamed query,
    across a multi-partition replay -- and the replay must exercise
    the two-term fusion branch (some fused row carries both ranks)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        hybrid_rrf_topk_per_query,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        hybrid_rrf_batches,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    idx = write_ann_index(embs, str(tmp_path / "annidx"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 5).repartition(2).write.parquet(qdir)

    out = str(tmp_path / "fused")
    q = hybrid_rrf_batches(
        stream_embeddings(spark, qdir),
        docs,
        spark.read.parquet(idx + "/vecs"),
        out,
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    batch = sorted(
        map(
            tuple,
            hybrid_rrf_topk_per_query(docs, embs, n_queries=5).collect(),
        )
    )
    assert got == batch
    assert got, "no fused results produced"
    assert any(
        r[2] is not None and r[3] is not None for r in got
    ), "replay never exercised the two-term fusion branch"


def test_streaming_hybrid_index_refresh_fails_loudly(spark, tmp_path):
    """hybrid_rrf_batches snapshots BOTH constituents at construction
    time (the collected lexical list, the dense corpus), so an index
    refresh under a running stream would silently mix versions -- it
    therefore carries the serving family's nonce discipline
    (`ann_topk_batches` / `rerank_topk_batches`). Pinned: (1) a
    consistent index_path pin passes through untouched; (2) a stale
    expected_fingerprint raises at CALL time, before any stream
    starts."""
    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        hybrid_rrf_batches,
        index_fingerprint,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    idx = write_ann_index(embs, str(tmp_path / "annidx"))
    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 3).write.parquet(qdir)

    ok_out = str(tmp_path / "ok")
    q = hybrid_rrf_batches(
        stream_embeddings(spark, qdir),
        docs,
        spark.read.parquet(idx + "/vecs"),
        ok_out,
        index_path=idx,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(ok_out).count() > 0

    stale = index_fingerprint(spark, idx)
    write_ann_index(embs.filter(F.col("vec_id") % 2 == 0), idx)
    assert index_fingerprint(spark, idx) != stale
    with pytest.raises(RuntimeError, match="overwritten under a probe"):
        hybrid_rrf_batches(
            stream_embeddings(spark, qdir),
            docs,
            spark.read.parquet(idx + "/vecs"),
            str(tmp_path / "stale_out"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def test_serving_family_refuses_fingerprint_without_index_path(spark):
    """r13 ADVICE: a caller pinning only the nonce (expected_fingerprint
    without index_path) silently got ZERO refresh protection -- the pin
    is only ever compared against index_path's on-disk nonce. The whole
    serving family must refuse that call shape loudly, at call time,
    before any stream starts."""
    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_topk_batches,
        hybrid_rrf_batches,
        knn_classify_batches,
        rerank_topk_batches,
        semantic_verdict_batches,
        split_verdict_batches,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], "l0")],
        "vec_id long, embedding array<double>, label string",
    )
    docs = spark.createDataFrame([(0, "text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="without index_path"):
        ann_topk_batches(df, "/tmp/x", expected_fingerprint="nonce")
    with pytest.raises(ValueError, match="without index_path"):
        knn_classify_batches(df, df, "/tmp/x", expected_fingerprint="nonce")
    with pytest.raises(ValueError, match="without index_path"):
        split_verdict_batches(
            docs, docs, docs, "/tmp/x", expected_fingerprint="nonce"
        )
    with pytest.raises(ValueError, match="without index_path"):
        semantic_verdict_batches(
            df, df, df, "/tmp/x", expected_fingerprint="nonce"
        )
    with pytest.raises(ValueError, match="without index_path"):
        rerank_topk_batches(df, df, "/tmp/x", expected_fingerprint="nonce")
    with pytest.raises(ValueError, match="without index_path"):
        hybrid_rrf_batches(
            df, docs, df, "/tmp/x", expected_fingerprint="nonce"
        )


def test_streaming_split_matches_batch(spark, tmp_path):
    """Streaming leakage-safe split assignment: replaying the indexed
    corpus through `split_verdict_batches` (multi-batch, one file per
    trigger) must reproduce the batch assignment -- `neardup_clusters`
    labels + the deterministic md5 split draw -- row-for-row. Every
    partner is in the index, so each doc reaches its component
    minimum through its direct verified hits regardless of batching."""
    from big_data_streaming_dashboard_spark.llmdata.curation import (
        split_assignment_column,
    )
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_clusters,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = write_split_index(docs, str(tmp_path / "splitidx"))
    stream_dir = str(tmp_path / "dstream")
    docs.select("doc_id", "text", "lang").repartition(3).write.parquet(
        stream_dir
    )

    out = str(tmp_path / "assigned")
    q = split_verdict_batches(
        stream_documents(spark, stream_dir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/clusters"),
        out,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)

    s_rows = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in spark.read.parquet(out).collect()
    }
    b_rows = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in neardup_clusters(docs)
        .select(
            "doc_id",
            "cluster_id",
            split_assignment_column(F.col("cluster_id")).alias("split"),
        )
        .collect()
    }
    assert s_rows == b_rows
    # premise: the fixture exercises non-trivial clusters and at least
    # two distinct splits, else the parity proved nothing
    assert any(cid != d for d, (cid, _s) in b_rows.items())
    assert len({s for _c, s in b_rows.values()}) >= 2


def test_streaming_split_new_docs_inherit_and_colink(spark, tmp_path):
    """The two arrival-assignment rules beyond self-replay: (1) a new
    doc that near-dups a corpus doc INHERITS that doc's cluster and
    hence its already-drawn split (the leakage guarantee against the
    training set); (2) two mutual near-dups arriving in the SAME
    micro-batch with no corpus hit share one new cluster (and so one
    split) via the batch-local component step. Plus the serving
    family's stale-pin refusal."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata.curation import (
        split_assignment_column,
    )
    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_clusters,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        index_fingerprint,
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = write_split_index(docs, str(tmp_path / "splitidx"))
    anchor = docs.orderBy("doc_id").limit(1).collect()[0]
    anchor_cluster = {
        r["doc_id"]: r["cluster_id"] for r in neardup_clusters(docs).collect()
    }[anchor["doc_id"]]

    novel = "zq xv wk jd qq pp ll mm nn oo aa bb cc dd ee ff gg hh"
    arrivals = spark.createDataFrame(
        [
            (9001, novel, "en"),          # colinked pair, no corpus hit
            (9002, novel, "en"),
            (9003, anchor["text"], "en"),  # inherits the anchor's cluster
        ],
        "doc_id long, text string, lang string",
    )
    stream_dir = str(tmp_path / "astream")
    arrivals.coalesce(1).write.parquet(stream_dir)
    out = str(tmp_path / "assigned")
    q = split_verdict_batches(
        stream_documents(spark, stream_dir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/clusters"),
        out,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in spark.read.parquet(out).collect()
    }
    assert set(got) == {9001, 9002, 9003}
    assert got[9001] == got[9002] == (
        9001,
        spark.range(1)
        .select(split_assignment_column(F.lit(9001)).alias("s"))
        .collect()[0]["s"],
    )
    assert got[9003][0] == anchor_cluster
    # the inherited split IS the batch datasheet's draw for that cluster
    want_split = (
        spark.range(1)
        .select(
            split_assignment_column(F.lit(anchor_cluster)).alias("s")
        )
        .collect()[0]["s"]
    )
    assert got[9003][1] == want_split

    # stale pin refuses at call time (nonce discipline)
    stale = index_fingerprint(spark, idx)
    write_split_index(docs.limit(10), idx)
    with pytest.raises(RuntimeError, match="rebuilt under"):
        split_verdict_batches(
            stream_documents(spark, stream_dir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            str(tmp_path / "out2"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def test_streaming_split_append_equals_rebuild(spark, tmp_path):
    """append_split_index folds the stream's OWN assignments back into
    the artifact: on a bridge-free, monotone increment (premise
    pre-checked against the rebuild below), the merged clusters table
    must equal a one-shot `write_split_index` over the union corpus
    row-for-row -- and a SECOND stream generation against the merged
    artifact must match a later arrival to an EARLIER arrival
    (the cross-batch delta closing progressively). The monotone-ingest
    guard raises on an assignment with cluster_id > doc_id."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata.dedup import (
        neardup_clusters,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_split_index,
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter(F.col("doc_id") < 400)
    arrivals = docs.filter(F.col("doc_id") >= 400)
    idx = write_split_index(corpus, str(tmp_path / "idx"))

    # premise check (makes the equality below meaningful, not luck):
    # the increment is bridge-free and monotone, and some arrivals
    # genuinely link (vacuous-fixture discipline)
    full_labels = neardup_clusters(docs).select("doc_id", "cluster_id")
    base = neardup_clusters(corpus).select(
        "doc_id", F.col("cluster_id").alias("_base")
    )
    bridges = (
        full_labels.join(base, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count_distinct("_base").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert bridges == 0
    linked = full_labels.filter(
        (F.col("doc_id") >= 400) & (F.col("cluster_id") != F.col("doc_id"))
    ).count()
    assert linked > 0

    sdir = str(tmp_path / "astream")
    arrivals.select("doc_id", "text", "lang").coalesce(1).write.parquet(sdir)
    out = str(tmp_path / "assigned")
    q = split_verdict_batches(
        stream_documents(spark, sdir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/clusters"),
        out,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    assignments = spark.read.parquet(out)

    append_split_index(
        arrivals.select("doc_id", "text", "lang"), assignments, idx
    )
    merged = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(idx + "/clusters").collect()
    }
    rebuilt = {
        r["doc_id"]: r["cluster_id"] for r in full_labels.collect()
    }
    assert merged == rebuilt

    # second generation: a fresh near-dup of an APPENDED arrival that
    # itself linked nothing in the corpus must now inherit that
    # arrival's cluster through the merged index
    lone = (
        full_labels.filter(
            (F.col("doc_id") >= 400) & (F.col("cluster_id") == F.col("doc_id"))
        )
        .orderBy("doc_id")
        .limit(1)
        .collect()[0]["doc_id"]
    )
    lone_text = docs.filter(F.col("doc_id") == lone).collect()[0]["text"]
    gen2 = spark.createDataFrame(
        [(9100, lone_text, "en")], "doc_id long, text string, lang string"
    )
    sdir2 = str(tmp_path / "gen2")
    gen2.coalesce(1).write.parquet(sdir2)
    out2 = str(tmp_path / "assigned2")
    q2 = split_verdict_batches(
        stream_documents(spark, sdir2),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/clusters"),
        out2,
        checkpoint=str(tmp_path / "ckpt2"),
        index_path=idx,
    )
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out2).collect()
    assert len(got2) == 1 and got2[0]["cluster_id"] == lone

    # monotone-ingest guard: an assignment labeling below its own id
    # must refuse the append loudly
    bad = spark.createDataFrame(
        [(5, 9999, "train")], "doc_id long, cluster_id long, split string"
    )
    with pytest.raises(ValueError, match="monotone"):
        append_split_index(gen2, bad, idx)


def test_streaming_split_honors_corpus_bucket_cap(spark, tmp_path):
    """r14 review: the batch-local co-link must not link pairs through
    a bucket the corpus-wide build DROPPED as degenerate. Three
    identical docs with max_bucket_size=2: the batch build skips their
    bucket (3 > 2), so each is its own cluster; replaying two of them
    in one micro-batch makes the bucket under-cap batch-locally (2 <=
    2) -- without the index over-cap anti-join they would co-link and
    diverge from the batch assignment. Also pins the build/serve knob
    check (a stream at mismatched knobs refuses) and the unstamped-
    artifact refusal path implicitly (stamps written by the writer)."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata.curation import (
        split_assignment_column,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, same, "en"), (2, same, "en"), (3, same, "en"),
         (4, "totally different words live here apart from everything", "en")],
        "doc_id long, text string, lang string",
    )
    idx = write_split_index(docs, str(tmp_path / "idx"), max_bucket_size=2)
    # batch truth: the degenerate bucket is dropped, all singletons
    batch_labels = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(idx + "/clusters").collect()
    }
    assert batch_labels == {1: 1, 2: 2, 3: 3, 4: 4}

    sdir = str(tmp_path / "stream")
    docs.filter(F.col("doc_id").isin(2, 3)).coalesce(1).write.parquet(sdir)
    out = str(tmp_path / "out")
    q = split_verdict_batches(
        stream_documents(spark, sdir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/clusters"),
        out,
        max_bucket_size=2,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for r in spark.read.parquet(out).collect()
    }
    want_split = lambda c: (  # noqa: E731
        spark.range(1)
        .select(split_assignment_column(F.lit(c)).alias("s"))
        .collect()[0]["s"]
    )
    assert got == {2: (2, want_split(2)), 3: (3, want_split(3))}

    # build/serve knob mismatch refuses at call time
    with pytest.raises(ValueError, match="knobs"):
        split_verdict_batches(
            stream_documents(spark, sdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            str(tmp_path / "out2"),
            max_bucket_size=1000,
            index_path=idx,
        )
    with pytest.raises(ValueError, match="knobs"):
        split_verdict_batches(
            stream_documents(spark, sdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            str(tmp_path / "out3"),
            threshold=0.5,
            max_bucket_size=2,
            index_path=idx,
        )

    # a pin naming a FOREIGN root refuses on KIND, with the accurate
    # message -- not the misleading "predates the stamping writer"
    # path a raw knob probe fell into (r17 fourth review). Strict
    # check: split roots have stamped kind since their first commit.
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        write_rerank_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    foreign = write_rerank_index(
        load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
            F.col("vec_id") < 50
        ),
        str(tmp_path / "foreign"),
    )
    with pytest.raises(ValueError, match="not a split index"):
        split_verdict_batches(
            stream_documents(spark, sdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            str(tmp_path / "out4"),
            max_bucket_size=2,
            index_path=foreign,
        )


def test_streaming_split_cadence_closes_straddle(spark, tmp_path):
    """r14 verdict item 7: the serving loop's documented delta (a) --
    two near-dups arriving in different stream generations straddle
    the split boundary when neither touches the corpus. The cadence
    helper folds each generation's docs+assignments back before the
    next starts, so the later arrival inherits the earlier one's
    cluster (and therefore its exact split). Pinned: doc 11 (near-dup
    of doc 10, no corpus hit) lands in generation 1 and co-assigns
    with doc 10 from generation 0; a third unrelated arrival draws
    its own cluster untouched."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        split_verdicts_with_cadence,
        write_split_index,
    )

    corpus = spark.createDataFrame(
        [(1, "the indexed corpus contains only this unrelated doc", "en")],
        "doc_id long, text string, lang string",
    )
    idx = write_split_index(corpus, str(tmp_path / "idx"))

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    gen0 = str(tmp_path / "gen0")
    gen1 = str(tmp_path / "gen1")
    spark.createDataFrame(
        [(10, base + " lambda", "en")], "doc_id long, text string, lang string"
    ).coalesce(1).write.parquet(gen0)
    spark.createDataFrame(
        [(11, base + " mu", "en"),
         (12, "completely different arrival text goes here now", "en")],
        "doc_id long, text string, lang string",
    ).coalesce(1).write.parquet(gen1)

    # an EMPTY generation mid-sequence (no arrivals that period) must
    # skip its fold, not crash the cadence (r15 review)
    gen_mid = str(tmp_path / "gen_mid")
    os.makedirs(gen_mid, exist_ok=True)

    outs = split_verdicts_with_cadence(
        spark,
        [gen0, gen_mid, gen1],
        idx,
        str(tmp_path / "verdicts"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    assert len(outs) == 2  # the empty generation produced nothing
    rows = {
        r["doc_id"]: (r["cluster_id"], r["split"])
        for out in outs
        for r in spark.read.parquet(out).collect()
    }
    # the cross-generation near-dup co-assigned: same cluster -> the
    # SAME deterministic split draw; the unrelated arrival is its own
    # cluster
    assert rows[11] == rows[10] and rows[10][0] == 10
    assert rows[12][0] == 12
    # and the fold landed: the index's cluster table carries all three
    labels = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(idx + "/clusters").collect()
    )
    assert labels == [(1, 1), (10, 10), (11, 10), (12, 12)]

    # restart idempotency (r15 review): rerunning the whole cadence
    # with the same checkpoint_root replays completed generations as
    # no-op streams and SKIPS their folds -- the index must not grow
    # duplicate band/cluster rows
    outs2 = split_verdicts_with_cadence(
        spark,
        [gen0, gen_mid, gen1],
        idx,
        str(tmp_path / "verdicts"),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    assert outs2 == outs
    labels2 = sorted(
        (r["doc_id"], r["cluster_id"])
        for r in spark.read.parquet(idx + "/clusters").collect()
    )
    assert labels2 == labels
    # a PARTIAL overlap refuses loudly: a would-be generation mixing
    # one folded doc with one novel doc is a corrupted sequence
    gen_bad = str(tmp_path / "gen_bad")
    spark.createDataFrame(
        [(11, base + " mu", "en"),
         (99, "a brand new arrival never folded before", "en")],
        "doc_id long, text string, lang string",
    ).coalesce(1).write.parquet(gen_bad)
    with pytest.raises(ValueError, match="partial|overlapping"):
        split_verdicts_with_cadence(
            spark,
            [gen_bad],
            idx,
            str(tmp_path / "verdicts_bad"),
            checkpoint_root=str(tmp_path / "ckpt_bad"),
        )

    # crash-window pin (r15 review, second pass): a fold that died
    # between the bands append and the clusters append leaves bands
    # without labels -- the rerun must REFUSE (re-appending bands
    # would double-count rows toward the degenerate-bucket cap), not
    # silently re-fold
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        write_neardup_index,
    )

    gen_crash = str(tmp_path / "gen_crash")
    crash_docs = spark.createDataFrame(
        [(200, "an arrival whose fold will half-land", "en")],
        "doc_id long, text string, lang string",
    )
    crash_docs.coalesce(1).write.parquet(gen_crash)
    write_neardup_index(crash_docs, idx + "/bands", mode="append")
    with pytest.raises(ValueError, match="partial.*crash mid-fold|crash mid-fold"):
        split_verdicts_with_cadence(
            spark,
            [gen_crash],
            idx,
            str(tmp_path / "verdicts_crash"),
            checkpoint_root=str(tmp_path / "ckpt_crash"),
        )


def test_unionfind_min_labels_randomized():
    """The small-graph path's labeling claim ('bit-identical to
    _label_components') rests on the union-by-min-root invariant --
    pin it against an independent BFS component-min reference over
    200 random graphs (I/O-free, covers chains, stars, multi-edges,
    self-loops, and disconnected vertices via edge endpoints)."""
    import random

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _unionfind_min_labels,
    )

    rng = random.Random(20260815)
    for _ in range(200):
        n = rng.randint(2, 60)
        m = rng.randint(1, 120)
        edges = [
            (rng.randrange(n) + 100, rng.randrange(n) + 100)
            for _ in range(m)
        ]
        got = _unionfind_min_labels(edges)
        # reference: BFS component min over the undirected graph
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        want: dict[int, int] = {}
        seen: set[int] = set()
        for v in adj:
            if v in seen:
                continue
            comp, queue = [], [v]
            seen.add(v)
            while queue:
                u = queue.pop()
                comp.append(u)
                for w in adj[u]:
                    if w not in seen:
                        seen.add(w)
                        queue.append(w)
            lo = min(comp)
            for u in comp:
                want[u] = lo
        assert got == want


def test_streaming_split_small_graph_path_matches_distributed(
    spark, tmp_path, monkeypatch
):
    """r14 verdict item 6: intra-batch graphs under
    _SPLIT_SMALL_GRAPH_CAP resolve by driver union-find instead of the
    O(log d) propagation rounds (~4 s/batch of fixed driver-action
    cost). The labeling rule must stay bit-identical: component min,
    identity for untouched docs. Pinned by running the SAME batch
    (a 3-doc near-dup chain + a singleton, all novel) through both
    paths -- default cap (union-find) vs cap monkeypatched below the
    edge count (distributed rounds) -- and asserting row-equal
    output."""
    from big_data_streaming_dashboard_spark.streaming import llm_ingest
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, "indexed corpus doc about something else entirely", "en")],
        "doc_id long, text string, lang string",
    )
    idx = write_split_index(docs, str(tmp_path / "idx"))
    arrivals = spark.createDataFrame(
        [(10, base + " lambda", "en"),
         (11, base + " mu", "en"),
         (12, base + " nu", "en"),
         (13, "totally unrelated words live in this arrival", "en")],
        "doc_id long, text string, lang string",
    )
    sdir = str(tmp_path / "stream")
    arrivals.coalesce(1).write.parquet(sdir)

    def run(tag):
        out = str(tmp_path / f"out_{tag}")
        q = split_verdict_batches(
            stream_documents(spark, sdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            out,
            checkpoint=str(tmp_path / f"ckpt_{tag}"),
            index_path=idx,
        )
        q.awaitTermination(120)
        return sorted(
            (r["doc_id"], r["cluster_id"], r["split"])
            for r in spark.read.parquet(out).collect()
        )

    small = run("small")
    # the chain really co-linked (component min 10), singleton intact
    assert [c for _d, c, _s in small] == [10, 10, 10, 13]
    monkeypatch.setattr(llm_ingest, "_SPLIT_SMALL_GRAPH_CAP", 0)
    assert run("dist") == small


def test_streaming_split_knob_check_is_numeric_and_stamp_aware(
    spark, tmp_path
):
    """r14 ADVICE: the build/serve knob check compared str(v) against
    the stamps, so numerically equal knobs with different reprs (2.0
    vs the stamped "2", a np.float64 threshold) refused spuriously,
    and an artifact with NO stamps fell into the same 'mismatched
    knobs' message. Pinned: (1) repr-different equal knobs pass and
    the stream emits; (2) a stamp-less fingerprint raises the
    DISTINCT rebuild message, not the mismatch one."""
    import numpy as np
    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )

    docs = spark.createDataFrame(
        [(1, "one plain document of unremarkable text", "en"),
         (2, "a second unrelated document about other things", "en")],
        "doc_id long, text string, lang string",
    )
    idx = write_split_index(
        docs, str(tmp_path / "idx"), threshold=0.2, max_bucket_size=2
    )
    sdir = str(tmp_path / "stream")
    docs.coalesce(1).write.parquet(sdir)

    # same knobs, different reprs: float cap, np.float64 threshold
    out = str(tmp_path / "out")
    q = split_verdict_batches(
        stream_documents(spark, sdir),
        spark.read.parquet(idx + "/bands"),
        spark.read.parquet(idx + "/clusters"),
        out,
        threshold=np.float64(0.2),
        max_bucket_size=2.0,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 2

    # stamp-less artifact: distinct refusal, not the mismatch message
    _write_index_fingerprint(spark, idx, {"kind": "split"})
    with pytest.raises(ValueError, match="no build-knob stamps"):
        split_verdict_batches(
            stream_documents(spark, sdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            str(tmp_path / "out2"),
            threshold=0.2,
            max_bucket_size=2,
            index_path=idx,
        )


def test_streaming_split_append_refuses_partial_assignments(spark, tmp_path):
    """r14 review: appending band rows for docs with NO clusters row
    would make later probe hits on them vanish through the inner label
    join (fresh split drawn instead of inherited -- a silent straddle).
    An increment whose assignments don't cover every appended doc must
    refuse; the knob stamps must survive the append's re-stamp."""
    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_split_index,
        write_split_index,
    )

    docs = spark.createDataFrame(
        [(1, "one doc of ordinary text content", "en")],
        "doc_id long, text string, lang string",
    )
    idx = write_split_index(docs, str(tmp_path / "idx"), max_bucket_size=7)
    new_docs = spark.createDataFrame(
        [(10, "first new arrival text", "en"),
         (11, "second new arrival text", "en")],
        "doc_id long, text string, lang string",
    )
    partial = spark.createDataFrame(
        [(10, 10, "train")], "doc_id long, cluster_id long, split string"
    )
    with pytest.raises(ValueError, match="no assignment row"):
        append_split_index(new_docs, partial, idx)

    # mirror direction (r14 ADVICE): an assignment row for a doc NOT in
    # new_docs (stale frame from a previous increment) must refuse too,
    # or it enters clusters/ with no matching band rows
    stale_extra = spark.createDataFrame(
        [(10, 10, "train"), (11, 11, "test"), (99, 99, "train")],
        "doc_id long, cluster_id long, split string",
    )
    with pytest.raises(ValueError, match="not in new_docs"):
        append_split_index(new_docs, stale_extra, idx)

    full = spark.createDataFrame(
        [(10, 10, "train"), (11, 11, "test")],
        "doc_id long, cluster_id long, split string",
    )
    append_split_index(new_docs, full, idx)
    fp = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    assert fp["max_bucket_size"] == "7"  # knob stamp survived


def test_streaming_split_assignment_is_batching_invariant(spark, tmp_path):
    """The docstring's ANY-batching claim, pinned directly: the same
    arrival set (fresh docs, some near-dup to the corpus, some
    mutually near-dup, some novel) streamed as ONE micro-batch and as
    FOUR must produce identical (doc_id, cluster_id, split) rows --
    with the documented exception class deliberately EXCLUDED from
    the fixture (no novel cross-arrival pairs split across batches:
    the mutual near-dups are co-located in one file both times)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        split_verdict_batches,
        stream_documents,
        write_split_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = write_split_index(docs, str(tmp_path / "idx"))
    anchor = docs.orderBy("doc_id").limit(2).collect()
    novel = "qq ww ee rr tt yy uu ii oo pp aa ss dd ff gg hh jj kk"
    pairs = [  # (doc_id, text, co-batch group)
        (9001, anchor[0]["text"], 0),   # inherits corpus cluster
        (9002, anchor[1]["text"], 1),   # inherits another
        (9003, novel, 2), (9004, novel, 2),  # mutual pair, same file
        (9005, "completely unrelated fresh content here now", 3),
    ]

    def run(n_files, tag):
        rows = [(d, t) for d, t, _g in pairs]
        df = spark.createDataFrame(
            [(d, t, "en") for d, t in rows],
            "doc_id long, text string, lang string",
        )
        sdir = str(tmp_path / f"s{tag}")
        if n_files == 1:
            df.coalesce(1).write.parquet(sdir)
        else:
            # one file per co-batch group -> 4 micro-batches, the
            # mutual pair stays co-located
            for g in range(4):
                spark.createDataFrame(
                    [(d, t, "en") for d, t, gg in pairs if gg == g],
                    "doc_id long, text string, lang string",
                ).coalesce(1).write.mode("append").parquet(sdir)
        out = str(tmp_path / f"o{tag}")
        q = split_verdict_batches(
            stream_documents(spark, sdir),
            spark.read.parquet(idx + "/bands"),
            spark.read.parquet(idx + "/clusters"),
            out,
            checkpoint=str(tmp_path / f"c{tag}"),
            index_path=idx,
        )
        q.awaitTermination(180)
        return {
            r["doc_id"]: (r["cluster_id"], r["split"])
            for r in spark.read.parquet(out).collect()
        }

    one = run(1, "one")
    four = run(4, "four")
    assert one == four
    assert set(one) == {9001, 9002, 9003, 9004, 9005}
    assert one[9003] == one[9004] == (9003, one[9003][1])  # co-linked
    assert one[9005][0] == 9005  # novel singleton


def test_streaming_bm25_matches_batch_for_arbitrary_queries(spark, tmp_path):
    """The inverted-index serving path must equal `text.bm25_topk`
    BIT-EXACTLY for ARBITRARY keyword queries -- the fixed registry
    query AND other term sets, including a repeated term (multiplicity
    preserved) -- same doc set, same double scores, same (score DESC,
    doc_id) ranks. A query matching nothing emits no rows; the serving
    family's stale-pin refusal holds."""
    import pytest

    from big_data_streaming_dashboard_spark.llmdata.text import (
        BM25_QUERY_TERMS,
        bm25_topk,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        bm25_topk_batches,
        index_fingerprint,
        stream_keyword_queries,
        write_bm25_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = write_bm25_index(docs, str(tmp_path / "bmidx"))

    queries = {
        0: " ".join(BM25_QUERY_TERMS),          # the registry query
        1: "customer value window",              # another term set
        2: "scan scan join",                     # repeated term
        3: "zzz qqq not_in_vocab",               # lexical miss
    }
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        list(queries.items()), "query_id long, keywords string"
    ).coalesce(1).write.parquet(qdir)

    out = str(tmp_path / "ranked")
    q = bm25_topk_batches(
        stream_keyword_queries(spark, qdir),
        spark.read.parquet(idx + "/postings"),
        spark.read.parquet(idx + "/stats"),
        out,
        k=20,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid in got:
        got[qid].sort()

    for qid, kw in queries.items():
        terms = tuple(kw.split())
        want = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(bm25_topk(docs, query_terms=terms, top_k=20).collect())
        ]
        if qid == 3:
            assert qid not in got and not want
        else:
            assert got[qid] == want, f"query {qid} diverged"
    # the repeated-term query must actually double its term's weight
    # (multiplicity premise, not a dedup artifact)
    single = {r["doc_id"]: r["score"] for r in bm25_topk(docs, query_terms=("scan", "join"), top_k=20).collect()}
    double = {d: s for _rk, d, s in got[2]}
    overlap = set(single) & set(double)
    assert overlap and all(double[d] > single[d] for d in overlap)

    # stale pin refuses at call time
    stale = index_fingerprint(spark, idx)
    write_bm25_index(docs.limit(50), idx)
    with pytest.raises(RuntimeError, match="overwritten under a probe"):
        bm25_topk_batches(
            stream_keyword_queries(spark, qdir),
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/stats"),
            str(tmp_path / "out2"),
            index_path=idx,
            expected_fingerprint=stale,
        )


def test_streaming_hybrid_keyword_matches_independent_rrf(spark, tmp_path):
    """The per-keyword hybrid (full RAG loop: keywords + embedding per
    arrival) must equal RRF recomputed in Python from its two
    constituent rank lists for EVERY query -- the fixed corpus query,
    a different term set, and a lexical miss (dense-only degrade)."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        HYBRID_FUSION_K,
        HYBRID_TOP_K,
        RRF_K,
    )
    from big_data_streaming_dashboard_spark.llmdata.text import (
        BM25_QUERY_TERMS,
        bm25_topk,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _dense_cosine_topk,
        hybrid_rrf_keyword_batches,
        write_ann_index,
        write_bm25_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    bmidx = write_bm25_index(docs, str(tmp_path / "bm"))
    annidx = write_ann_index(embs, str(tmp_path / "ann"))
    index_vecs = spark.read.parquet(annidx + "/vecs")

    emb_by_id = {
        r["vec_id"]: list(r["embedding"])
        for r in embs.filter(F.col("vec_id") < 3).collect()
    }
    queries = [
        (0, " ".join(BM25_QUERY_TERMS), emb_by_id[0]),
        (1, "customer value window", emb_by_id[1]),
        (2, "zzz not_in_vocab qqq", emb_by_id[2]),
    ]
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        queries, "query_id long, keywords string, embedding array<double>"
    ).coalesce(1).write.parquet(qdir)

    out = str(tmp_path / "fused")
    q = hybrid_rrf_keyword_batches(
        spark.readStream.schema(
            "query_id long, keywords string, embedding array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(qdir),
        spark.read.parquet(bmidx + "/postings"),
        spark.read.parquet(bmidx + "/stats"),
        index_vecs,
        out,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=annidx,
    )
    q.awaitTermination(180)
    got = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["lex_rank"], r["cos_rank"], r["rrf_score"])
        )

    for qid, kw, emb in queries:
        lex = {
            r["doc_id"]: i + 1
            for i, r in enumerate(
                bm25_topk(
                    docs, query_terms=tuple(kw.split()), top_k=HYBRID_FUSION_K
                ).collect()
            )
        }
        dense = {
            r["vec_id"]: r["rank"]
            for r in _dense_cosine_topk(
                spark.createDataFrame(
                    [(qid, emb)], "vec_id long, embedding array<double>"
                ),
                index_vecs,
                HYBRID_FUSION_K,
                exclude_self=False,
            ).collect()
        }
        expect = {}
        for d in set(lex) | set(dense):
            s = 0.0
            if d in lex:
                s = s + 1.0 / (RRF_K + lex[d])
            if d in dense:
                s = s + 1.0 / (RRF_K + dense[d])
            expect[d] = s
        want = [
            (d, lex.get(d), dense.get(d), s)
            for d, s in sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))[
                :HYBRID_TOP_K
            ]
        ]
        rows = sorted(got[qid], key=lambda t: (-t[3], t[0]))
        assert rows == want, f"query {qid} diverged"
    # the lexical-miss query really degraded to dense-only
    assert all(lr is None for _d, lr, _cr, _s in got[2])
    # r14 ADVICE (id-collision): query_id here is an EXTERNAL request
    # id, so a qid that happens to equal a corpus doc_id must NOT lose
    # that doc to leave-one-out. qid 0's embedding IS corpus vector 0
    # (cosine 1.0, the max), so doc 0 must sit at dense rank 1 in the
    # fused output -- the old exclude-self filter dropped it entirely.
    assert any(
        d == 0 and cr == 1 for d, _lr, cr, _s in got[0]
    ), "corpus doc colliding with query_id was dropped from its dense list"


def test_streaming_hybrid_keyword_dual_pin_guards_both_artifacts(
    spark, tmp_path
):
    """r14 verdict item 5: the keyword hybrid reads TWO independently
    rotated artifacts (BM25 postings/stats root, ANN vecs root); a
    single pin let the unpinned one rotate silently under a running
    stream. With both pin pairs supplied, rotating EITHER artifact
    must fail loudly at call time -- one refusal per constituent."""
    import pytest

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        hybrid_rrf_keyword_batches,
        index_fingerprint,
        write_ann_index,
        write_bm25_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    bmidx = write_bm25_index(docs, str(tmp_path / "bm"))
    annidx = write_ann_index(embs, str(tmp_path / "ann"))
    index_vecs = spark.read.parquet(annidx + "/vecs")

    emb0 = list(embs.filter(F.col("vec_id") == 0).collect()[0]["embedding"])
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        [(0, "customer value window", emb0)],
        "query_id long, keywords string, embedding array<double>",
    ).coalesce(1).write.parquet(qdir)

    def qstream():
        return (
            spark.readStream.schema(
                "query_id long, keywords string, embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )

    bm_pin = index_fingerprint(spark, bmidx)
    vec_pin = index_fingerprint(spark, annidx)

    # both pins consistent: the stream runs and emits
    ok_out = str(tmp_path / "ok")
    q = hybrid_rrf_keyword_batches(
        qstream(),
        spark.read.parquet(bmidx + "/postings"),
        spark.read.parquet(bmidx + "/stats"),
        index_vecs,
        ok_out,
        index_path=bmidx,
        expected_fingerprint=bm_pin,
        vecs_index_path=annidx,
        vecs_expected_fingerprint=vec_pin,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(ok_out).count() > 0

    # rotate the ANN vecs only: the vecs pin must refuse
    write_ann_index(embs.filter(F.col("vec_id") % 2 == 0), annidx)
    assert index_fingerprint(spark, annidx) != vec_pin
    with pytest.raises(RuntimeError, match="ANN vecs .* overwritten"):
        hybrid_rrf_keyword_batches(
            qstream(),
            spark.read.parquet(bmidx + "/postings"),
            spark.read.parquet(bmidx + "/stats"),
            index_vecs,
            str(tmp_path / "stale_vec"),
            index_path=bmidx,
            expected_fingerprint=bm_pin,
            vecs_index_path=annidx,
            vecs_expected_fingerprint=vec_pin,
        )

    # rotate the BM25 root only: the lexical pin must refuse
    vec_pin2 = index_fingerprint(spark, annidx)
    write_bm25_index(docs.limit(50), bmidx)
    assert index_fingerprint(spark, bmidx) != bm_pin
    with pytest.raises(RuntimeError, match="BM25 index .* overwritten"):
        hybrid_rrf_keyword_batches(
            qstream(),
            spark.read.parquet(bmidx + "/postings"),
            spark.read.parquet(bmidx + "/stats"),
            index_vecs,
            str(tmp_path / "stale_bm"),
            index_path=bmidx,
            expected_fingerprint=bm_pin,
            vecs_index_path=annidx,
            vecs_expected_fingerprint=vec_pin2,
        )


def test_streaming_bm25_append_equals_rebuild(spark, tmp_path):
    """append_bm25_index needs NO premise: postings are per-doc facts,
    the stats log is an associative partial-aggregate append, and df
    is probe-time over the merged postings -- so probing after
    build-half + append-half must equal probing after a one-shot
    build over the full corpus, row-for-row (bit-exact scores)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_bm25_index,
        bm25_topk_batches,
        stream_keyword_queries,
        write_bm25_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    inc = write_bm25_index(
        docs.filter(F.col("doc_id") < 250), str(tmp_path / "inc")
    )
    append_bm25_index(docs.filter(F.col("doc_id") >= 250), inc)
    full = write_bm25_index(docs, str(tmp_path / "full"))

    qdir = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, "dup spark scan join"), (1, "customer value window")],
        "query_id long, keywords string",
    ).coalesce(1).write.parquet(qdir)

    def probe(idx, tag):
        out = str(tmp_path / f"out{tag}")
        q = bm25_topk_batches(
            stream_keyword_queries(spark, qdir),
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/stats"),
            out,
            checkpoint=str(tmp_path / f"c{tag}"),
            index_path=idx,
        )
        q.awaitTermination(120)
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], r["score"])
            for r in spark.read.parquet(out).collect()
        )

    a = probe(inc, "inc")
    b = probe(full, "full")
    assert a == b and a


def test_bm25_probe_prunes_postings_partitions(spark, tmp_path):
    """The inverted-index probe must read ONLY the term buckets the
    batch's keywords hash to -- the batch's distinct buckets are a
    bounded driver artifact turned into a literal IN, because dynamic
    partition pruning declines on small-table heuristics (observed).
    Pinned on the executed plan: the postings scan's PartitionFilters
    carries the literal IN with exactly the probed buckets."""
    import re

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        BM25_INDEX_BUCKETS,
        _bm25_ranked_plan,
        write_bm25_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = write_bm25_index(docs, str(tmp_path / "bm"))
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", 2000)
    try:
        batch = spark.createDataFrame(
            [(0, "dup spark")], "query_id long, keywords string"
        )
        plan = _bm25_ranked_plan(
            batch,
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/stats"),
            20,
        )
        plan.collect()
        s = plan._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    scans = [
        ln for ln in s.split("\n") if "FileScan" in ln and "postings" in ln
    ]
    assert scans, "no postings scan in the executed plan"
    want = sorted(
        spark.createDataFrame([("dup",), ("spark",)], "term string")
        .select(
            F.pmod(F.xxhash64("term"), F.lit(BM25_INDEX_BUCKETS))
            .cast("int")
            .alias("b")
        )
        .distinct()
        .toPandas()["b"]
        .tolist()
    )
    for ln in scans:
        m = re.search(r"PartitionFilters: \[[^\]]*IN \(([0-9,]+)\)", ln)
        assert m, f"no literal IN partition filter in: {ln[:200]}"
        got = sorted(int(x) for x in m.group(1).split(","))
        assert got == want, (got, want)


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_bm25_probe_parity_on_randomized_corpora(spark, seed):
    """Randomized adversarial parity (I/O-free: in-memory postings via
    _bm25_postings): on seeded random corpora far outside the fixture
    distribution -- skewed Zipf draws, single-token docs, duplicated
    texts, unicode terms -- the inverted-index scorer must equal the
    batch scorer bit-for-bit for random queries with repeated and
    missing terms."""
    import random

    from big_data_streaming_dashboard_spark.llmdata.text import bm25_topk
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _bm25_postings,
        _bm25_ranked_plan,
    )

    rng = random.Random(seed)
    vocab = ["alpha", "beta", "gamma", "δelta", "épsilon", "zeta", "eta"]
    weights = [2 ** i for i in range(len(vocab))]  # zipf-ish skew
    rows = []
    for doc_id in range(40):
        n = rng.choice([1, 2, 5, 12])
        rows.append(
            (doc_id, " ".join(rng.choices(vocab, weights=weights, k=n)))
        )
    rows.append((100, rows[0][1]))  # exact duplicate text
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings, stats = _bm25_postings(docs)

    queries = []
    for qid in range(4):
        terms = rng.choices(vocab + ["missing_term"], k=rng.choice([1, 2, 3, 3]))
        queries.append((qid, " ".join(terms)))
    batch = spark.createDataFrame(queries, "query_id long, keywords string")
    got = {}
    for r in _bm25_ranked_plan(batch, postings, stats, 50).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"])
        )
    for qid in got:
        got[qid].sort()
    for qid, kw in queries:
        want = [
            (i + 1, r["doc_id"], r["score"])
            for i, r in enumerate(
                bm25_topk(docs, query_terms=tuple(kw.split()), top_k=50).collect()
            )
        ]
        assert got.get(qid, []) == want, f"seed {seed} query {qid} ({kw})"


def test_empty_artifact_dim_probes_refuse_loudly(spark, tmp_path):
    """r15 ADVICE item 1: the append family probes the stored dim
    BEFORE its torn guards run (the ragged-delta check needs it), so
    an empty/torn vecs, centroids, or codebooks dir used to die with
    a bare TypeError (len(None)) / max()-of-empty instead of the
    family's distinct loud refusal. `_stored_dim` /
    `_load_codebooks` now refuse with the empty-or-torn message at
    every dim-probe site."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_ivf_index,
        append_ivfpq_index,
        append_matryoshka_index,
        append_quant_index,
        write_ivf_index,
        write_ivfpq_index,
        write_matryoshka_index,
        write_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 200).persist()
    delta = embs.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 240)
    ).persist()

    def _empty_out(subdir: str) -> None:
        sch = spark.read.parquet(subdir).schema
        spark.createDataFrame([], sch).write.mode("overwrite").parquet(
            subdir
        )

    # matryoshka + quant: empty vecs dir under a valid stamp
    midx = str(tmp_path / "m")
    write_matryoshka_index(base, midx, probe_dim=8)
    _empty_out(midx + "/vecs")
    with pytest.raises(ValueError, match="empty or torn build"):
        append_matryoshka_index(delta, midx)

    qidx = str(tmp_path / "q")
    write_quant_index(base, qidx)
    _empty_out(qidx + "/vecs")
    with pytest.raises(ValueError, match="empty or torn build"):
        append_quant_index(delta, qidx)

    # ivf: empty centroids dir (the model side, not the data side)
    iidx = str(tmp_path / "i")
    write_ivf_index(base, iidx, n_lists=4)
    _empty_out(iidx + "/centroids")
    with pytest.raises(ValueError, match="empty or torn build"):
        append_ivf_index(delta, iidx)

    # ivf-pq: empty codebooks dir (shared _load_codebooks guard)
    pidx = str(tmp_path / "p")
    write_ivfpq_index(base, pidx, n_lists=4, n_subspaces=4)
    _empty_out(pidx + "/codebooks")
    with pytest.raises(ValueError, match="codebooks artifact is empty"):
        append_ivfpq_index(delta, pidx)

    base.unpersist()
    delta.unpersist()


def test_matryoshka_probe_dim_pinned_to_fingerprint(spark, tmp_path):
    """r15 ADVICE item 2: when `matryoshka_topk_batches` is pinned to
    an index_path, the probe width comes from the STAMPED probe_dim --
    frames read from a DIFFERENT artifact than the pin refuse loudly
    instead of silently probing at the other artifact's width (the
    nonce pin alone cannot catch a frame/path mismatch)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        matryoshka_topk_batches,
        stream_embeddings,
        write_matryoshka_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 200)

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    write_matryoshka_index(base, a, probe_dim=8)
    write_matryoshka_index(base, b, probe_dim=16)

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)

    # frames from A, pin on B: stamped width 16 != frame width 8
    with pytest.raises(ValueError, match="different artifact"):
        matryoshka_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(a + "/prefixes"),
            spark.read.parquet(a + "/vecs"),
            str(tmp_path / "out_bad"),
            index_path=b,
        )

    # matched frames + pin constructs and serves (k rows per query)
    q = matryoshka_topk_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(a + "/prefixes"),
        spark.read.parquet(a + "/vecs"),
        str(tmp_path / "out_ok"),
        k=3,
        index_path=a,
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out_ok"))
    assert got.count() == 6  # 2 queries x k=3


def test_banded_probe_knobs_verified_against_stamp(spark, tmp_path):
    """r15 verdict item 2 (the builder's own recorded blind spot):
    `_require_band_ratio` catches a bands-count mismatch but NOT a
    rows_per_band/seed knob disagreeing with the build at the same
    bands count -- a same-ratio/wrong-planes probe silently returns
    empty candidates. With the optional ``index_path``, the probe
    constructors verify all three stamped knobs exactly and refuse
    loudly on any disagreement."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        semantic_probe_stream,
        semantic_verdict_batches,
        stream_embeddings,
        write_ann_index,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 200)

    aidx = str(tmp_path / "ann")
    write_ann_index(base, aidx, bands=8, rows_per_band=4, seed=42)
    bands_df = spark.read.parquet(aidx + "/bands")
    vecs_df = spark.read.parquet(aidx + "/vecs")

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)
    qstream = stream_embeddings(spark, qdir)

    # same ratio, wrong seed: the exact silent-empty case -- refuses
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        ann_probe_stream(
            qstream, bands_df, vecs_df,
            bands=8, rows_per_band=4, seed=7, index_path=aidx,
        )
    # same ratio, wrong rows_per_band: also invisible to the ratio
    # guard (band rows = bands * vecs regardless) -- refuses
    with pytest.raises(ValueError, match="knobs disagree.*rows_per_band"):
        ann_probe_stream(
            qstream, bands_df, vecs_df,
            bands=8, rows_per_band=6, seed=42, index_path=aidx,
        )
    # matched knobs + path: constructs (the guard is not a tripwire)
    assert ann_probe_stream(
        qstream, bands_df, vecs_df,
        bands=8, rows_per_band=4, seed=42, index_path=aidx,
    ).isStreaming

    # unstamped root refuses distinctly
    with pytest.raises(ValueError, match="unstamped"):
        ann_probe_stream(
            qstream, bands_df, vecs_df,
            bands=8, rows_per_band=4, seed=42,
            index_path=str(tmp_path / "nowhere"),
        )

    # semantic family: default knobs stamped by the writer
    sidx = str(tmp_path / "sem")
    write_semantic_index(base, sidx)
    sbands = spark.read.parquet(sidx + "/bands")
    svecs = spark.read.parquet(sidx + "/vecs")
    estream = stream_embeddings(spark, qdir)
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        semantic_probe_stream(
            estream, sbands, svecs, seed=7, index_path=sidx
        )
    assert semantic_probe_stream(
        estream, sbands, svecs, index_path=sidx
    ).isStreaming
    # the verdict writer verifies the same knobs on its existing
    # index_path before any stream starts
    with pytest.raises(ValueError, match="knobs disagree.*rows_per_band"):
        semantic_verdict_batches(
            estream, sbands, svecs, str(tmp_path / "vout"),
            rows_per_band=3, index_path=sidx,
        )


def test_rag_endpoints_serve_from_ivfpq_index(spark, tmp_path):
    """r15 verdict item 3: the RAG endpoints accept an IVF-PQ serving
    root as the DENSE constituent (`_ann_dense_retriever`) instead
    of brute-scanning the float vecs. At n_probe = n_lists and
    shortlist = corpus the cascade's candidate set is the full corpus
    and the exact re-rank collapses it to brute-force, so the fused /
    voted outputs equal the brute-dense form row-for-row; the budget
    knobs (n_probe < n_lists) then buy the measured probe win with
    the SAME plumbing."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        hybrid_rrf_keyword_batches,
        knn_classify_batches,
        stream_embeddings,
        write_bm25_index,
        write_ivfpq_index,
    )
    from big_data_streaming_dashboard_spark.llmdata.text import (
        BM25_QUERY_TERMS,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    n_corpus = embs.count()
    bmidx = write_bm25_index(docs, str(tmp_path / "bm"))
    pidx = write_ivfpq_index(
        embs, str(tmp_path / "ivfpq"), n_lists=4, n_subspaces=8
    )
    index_vecs = spark.read.parquet(pidx + "/vecs").select(
        "vec_id", F.col("v").alias("vec")
    ).join(embs.select("vec_id", "label"), "vec_id")

    emb_by_id = {
        r["vec_id"]: list(r["embedding"])
        for r in embs.filter(F.col("vec_id") < 3).collect()
    }
    queries = [
        (0, " ".join(BM25_QUERY_TERMS), emb_by_id[0]),
        (1, "customer value window", emb_by_id[1]),
        (2, "zzz not_in_vocab qqq", emb_by_id[2]),
    ]
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        queries, "query_id long, keywords string, embedding array<double>"
    ).coalesce(1).write.parquet(qdir)

    def _qstream():
        return (
            spark.readStream.schema(
                "query_id long, keywords string, embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir)
        )

    postings = spark.read.parquet(bmidx + "/postings")
    stats = spark.read.parquet(bmidx + "/stats")

    # brute-dense form (the pre-r16 endpoint)
    out_brute = str(tmp_path / "fused_brute")
    hybrid_rrf_keyword_batches(
        _qstream(), postings, stats, index_vecs, out_brute,
    ).awaitTermination(180)

    # ANN-backed form at the exact budget: full probe, full shortlist
    out_ann = str(tmp_path / "fused_ann")
    hybrid_rrf_keyword_batches(
        _qstream(), postings, stats, None, out_ann,
        ann_index_path=pidx, n_probe=4, ann_shortlist=n_corpus,
    ).awaitTermination(180)

    brute = sorted(map(tuple, spark.read.parquet(out_brute).collect()))
    ann = sorted(map(tuple, spark.read.parquet(out_ann).collect()))
    assert ann == brute and ann

    # knn classifier through the same retriever, full budget
    qdir2 = str(tmp_path / "knnq")
    embs.filter(F.col("vec_id") < 5).write.parquet(qdir2)
    out_kb = str(tmp_path / "knn_brute")
    knn_classify_batches(
        stream_embeddings(spark, qdir2), index_vecs, out_kb, k=5,
    ).awaitTermination(120)
    out_ka = str(tmp_path / "knn_ann")
    knn_classify_batches(
        stream_embeddings(spark, qdir2), None, out_ka, k=5,
        ann_index_path=pidx, n_probe=4, ann_shortlist=n_corpus,
    ).awaitTermination(120)
    kb = sorted(map(tuple, spark.read.parquet(out_kb).collect()))
    ka = sorted(map(tuple, spark.read.parquet(out_ka).collect()))
    assert ka == kb and ka

    # contract guards: contradictory dense roots refuse; neither
    # constituent refuses
    with pytest.raises(ValueError, match="disagree"):
        hybrid_rrf_keyword_batches(
            _qstream(), postings, stats, None, str(tmp_path / "x"),
            ann_index_path=pidx, vecs_index_path=bmidx,
        )
    with pytest.raises(ValueError, match="got neither"):
        knn_classify_batches(
            stream_embeddings(spark, qdir2), None, str(tmp_path / "y")
        )
    # wrong-kind artifact refuses through the shared stamp guard
    with pytest.raises(ValueError, match="not a servable dense index"):
        knn_classify_batches(
            stream_embeddings(spark, qdir2), None, str(tmp_path / "z"),
            ann_index_path=bmidx,
        )

    # kind dispatch: the composed IVF x matryoshka root serves the
    # same endpoints; at full budget (n_probe = n_lists, probe_dim =
    # dim, shortlist = corpus) it too collapses to the brute form
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        write_ivf_matryoshka_index,
    )

    midx = write_ivf_matryoshka_index(
        embs, str(tmp_path / "ivfmat"), n_lists=4, probe_dim=64
    )
    out_mat = str(tmp_path / "fused_mat")
    hybrid_rrf_keyword_batches(
        _qstream(), postings, stats, None, out_mat,
        ann_index_path=midx, n_probe=4, ann_shortlist=n_corpus,
    ).awaitTermination(180)
    mat = sorted(map(tuple, spark.read.parquet(out_mat).collect()))
    assert mat == brute and mat


@pytest.mark.parametrize(
    "kind",
    ["pq", "ivf", "ivfpq", "matryoshka", "quant", "ivfmat", "ivfquant",
     "bm25", "ann", "semantic", "rerank"],
)
def test_compact_then_probe_parity_all_kinds(spark, tmp_path, kind):
    """r15 verdict item 4: compact-then-probe == probe, pinned for
    EVERY registered compaction layout (`_INDEX_LAYOUT`), not
    just the PQ + BM25 members the r15 test covered. Each case builds
    a root, appends a delta (a second file generation), probes, LSM-
    compacts, and re-probes through freshly-read frames -- the two
    outputs must match row-for-row and the nonce must have rotated
    (running pinned streams fail over, never serve a stale listing)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        ann_topk_batches,
        append_bm25_index,
        append_ivf_index,
        append_ivf_matryoshka_index,
        append_ivf_quant_index,
        append_ivfpq_index,
        append_matryoshka_index,
        append_pq_index,
        append_quant_index,
        bm25_topk_batches,
        compact_serving_index,
        index_fingerprint,
        ivf_matryoshka_topk_batches,
        ivf_quant_topk_batches,
        ivf_topk_batches,
        ivfpq_topk_batches,
        matryoshka_topk_batches,
        pq_topk_batches,
        quant_topk_batches,
        rerank_topk_batches,
        semantic_verdict_batches,
        stream_embeddings,
        stream_keyword_queries,
        write_ann_index,
        write_bm25_index,
        write_ivf_index,
        write_ivf_matryoshka_index,
        write_ivf_quant_index,
        write_ivfpq_index,
        write_matryoshka_index,
        write_pq_index,
        write_quant_index,
        write_rerank_index,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    idx = str(tmp_path / kind)
    qdir = str(tmp_path / "queries")

    if kind == "bm25":
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        write_bm25_index(docs.filter(F.col("doc_id") < 250), idx)
        append_bm25_index(docs.filter(F.col("doc_id") >= 250), idx)
        spark.createDataFrame(
            [(0, "dup spark scan join"), (1, "customer value window")],
            "query_id long, keywords string",
        ).coalesce(1).write.parquet(qdir)

        def probe(tag):
            out = str(tmp_path / f"out_{tag}")
            bm25_topk_batches(
                stream_keyword_queries(spark, qdir),
                spark.read.parquet(idx + "/postings"),
                spark.read.parquet(idx + "/stats"),
                out,
                checkpoint=str(tmp_path / f"ck_{tag}"),
            ).awaitTermination(120)
            return sorted(map(tuple, spark.read.parquet(out).collect()))

    else:
        embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        base = embs.filter(F.col("vec_id") < 300)
        delta = embs.filter(
            (F.col("vec_id") >= 300) & (F.col("vec_id") < 400)
        )
        embs.filter(F.col("vec_id") < 3).write.parquet(qdir)

        if kind == "pq":
            write_pq_index(base, idx)
            append_pq_index(delta, idx)
        elif kind == "ivf":
            write_ivf_index(base, idx, n_lists=4)
            append_ivf_index(delta, idx)
        elif kind == "ivfpq":
            write_ivfpq_index(base, idx, n_lists=4, n_subspaces=4)
            append_ivfpq_index(delta, idx)
        elif kind == "matryoshka":
            write_matryoshka_index(base, idx, probe_dim=8)
            append_matryoshka_index(delta, idx)
        elif kind == "ivfmat":
            write_ivf_matryoshka_index(base, idx, n_lists=4, probe_dim=8)
            append_ivf_matryoshka_index(delta, idx)
        elif kind == "ivfquant":
            write_ivf_quant_index(base, idx, n_lists=4)
            append_ivf_quant_index(delta, idx)
        elif kind == "quant":
            write_quant_index(base, idx)
            append_quant_index(delta, idx)
        elif kind == "ann":
            write_ann_index(base, idx)
            write_ann_index(delta, idx, mode="append")
        elif kind == "semantic":
            write_semantic_index(base, idx)
            write_semantic_index(delta, idx, mode="append")
        elif kind == "rerank":
            write_rerank_index(base, idx)
            write_rerank_index(delta, idx, mode="append")

        def probe(tag):
            out = str(tmp_path / f"out_{tag}")
            q = stream_embeddings(spark, qdir)
            if kind == "pq":
                h = pq_topk_batches(
                    q,
                    spark.read.parquet(idx + "/codes"),
                    spark.read.parquet(idx + "/vecs"),
                    spark.read.parquet(idx + "/codebooks"),
                    out,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "ivf":
                h = ivf_topk_batches(
                    q,
                    spark.read.parquet(idx + "/cells"),
                    spark.read.parquet(idx + "/centroids"),
                    out,
                    n_probe=2,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "ivfpq":
                h = ivfpq_topk_batches(
                    q,
                    spark.read.parquet(idx + "/cells"),
                    spark.read.parquet(idx + "/vecs"),
                    spark.read.parquet(idx + "/codebooks"),
                    spark.read.parquet(idx + "/centroids"),
                    out,
                    n_probe=2,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "matryoshka":
                h = matryoshka_topk_batches(
                    q,
                    spark.read.parquet(idx + "/prefixes"),
                    spark.read.parquet(idx + "/vecs"),
                    out,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "ivfmat":
                h = ivf_matryoshka_topk_batches(
                    q,
                    spark.read.parquet(idx + "/cells"),
                    spark.read.parquet(idx + "/vecs"),
                    spark.read.parquet(idx + "/centroids"),
                    out,
                    n_probe=2,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "ivfquant":
                h = ivf_quant_topk_batches(
                    q,
                    spark.read.parquet(idx + "/cells"),
                    spark.read.parquet(idx + "/vecs"),
                    spark.read.parquet(idx + "/centroids"),
                    out,
                    n_probe=2,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "ann":
                h = ann_topk_batches(
                    ann_probe_stream(
                        q,
                        spark.read.parquet(idx + "/bands"),
                        spark.read.parquet(idx + "/vecs"),
                    ),
                    out,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "semantic":
                h = semantic_verdict_batches(
                    q,
                    spark.read.parquet(idx + "/bands"),
                    spark.read.parquet(idx + "/vecs"),
                    out,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            elif kind == "rerank":
                h = rerank_topk_batches(
                    q,
                    spark.read.parquet(idx + "/corpus"),
                    out,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            else:
                h = quant_topk_batches(
                    q,
                    spark.read.parquet(idx + "/codes"),
                    spark.read.parquet(idx + "/vecs"),
                    out,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                )
            h.awaitTermination(180)
            return sorted(map(tuple, spark.read.parquet(out).collect()))

    before = probe("before")
    stamp0 = index_fingerprint(spark, idx)
    compact_serving_index(spark, idx)
    assert index_fingerprint(spark, idx) != stamp0
    assert probe("after") == before and before


def test_bm25_torn_artifact_refuses_at_probe(spark, tmp_path):
    """r15 verdict item 5: the BM25 torn window gets a cheap
    invariant -- every stats row stamps its generation's postings
    count, so a torn append (postings landed, stats missing -- or the
    reverse) refuses at probe construction with one count + one sum,
    like the shortlist family, instead of silently scoring delta docs
    against an under-counted n_docs/avgdl."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_bm25_index,
        bm25_topk_batches,
        compact_serving_index,
        hybrid_rrf_keyword_batches,
        stream_keyword_queries,
        write_bm25_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = str(tmp_path / "bm")
    write_bm25_index(docs.filter(F.col("doc_id") < 250), idx)
    append_bm25_index(
        docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 400)), idx
    )

    qdir = str(tmp_path / "q")
    spark.createDataFrame(
        [(0, "dup spark scan join")], "query_id long, keywords string"
    ).coalesce(1).write.parquet(qdir)

    def build_probe(tag):
        return bm25_topk_batches(
            stream_keyword_queries(spark, qdir),
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/stats"),
            str(tmp_path / f"out_{tag}"),
            checkpoint=str(tmp_path / f"ck_{tag}"),
        )

    # consistent two-generation artifact probes fine, and the
    # invariant survives compaction (n_postings merges to its SUM)
    build_probe("ok").awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out_ok")).count() > 0
    compact_serving_index(spark, idx)
    stats = spark.read.parquet(idx + "/stats")
    assert stats.count() == 1
    assert (
        stats.first()["n_postings"]
        == spark.read.parquet(idx + "/postings").count()
    )

    # tear it: postings rows land with no stats twin (the append
    # crash window between the two writes)
    spark.read.parquet(idx + "/postings").limit(5).withColumn(
        "doc_id", F.col("doc_id") + 100000
    ).write.mode("append").partitionBy("term_bucket").parquet(
        idx + "/postings"
    )
    with pytest.raises(ValueError, match="torn bm25 artifact"):
        build_probe("torn")
    # ...and the keyword hybrid refuses the same tear
    with pytest.raises(ValueError, match="torn bm25 artifact"):
        hybrid_rrf_keyword_batches(
            spark.readStream.schema(
                "query_id long, keywords string, embedding array<double>"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(qdir),
            spark.read.parquet(idx + "/postings"),
            spark.read.parquet(idx + "/stats"),
            spark.createDataFrame(
                [(0, 0, [0.0])], "vec_id long, label int, vec array<double>"
            ),
            str(tmp_path / "hout"),
        )

    # pre-stamp (legacy) artifacts stay serveable: the guard is armed
    # by rebuild, never faked from the on-disk total
    legacy_stats = spark.read.parquet(idx + "/stats").select(
        "n_docs", "sum_dl"
    )
    legacy_rows = legacy_stats.collect()
    spark.createDataFrame(
        legacy_rows, "n_docs long, sum_dl long"
    ).coalesce(1).write.mode("overwrite").parquet(idx + "/stats")
    build_probe("legacy").awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out_legacy")).count() > 0


@pytest.mark.parametrize("probe_dim,n_probe", [(8, 2), (64, 4)])
def test_streaming_ivf_matryoshka_matches_python_cascade(
    spark, tmp_path, probe_dim, n_probe
):
    """r15 verdict item 6: prefix-width cells under IVF partition
    pruning -- the two serving budgets MULTIPLIED. The streamed output
    equals a pure-Python recompute of the composed cascade (centroid
    d2 ranking with (d2, cluster) ties -> probed cells only ->
    prefix-cosine shortlist with (-cos, vec_id) order -> exact
    full-width rerank with HALF_UP display rounding). At
    probe_dim=64 (== dim) and n_probe=4 (== n_lists) the cascade
    collapses to exact brute force -- same pin, full budget. The
    delta fold is covered by the same recompute run over an APPENDED
    artifact (the stored cluster column IS the frozen-centroid
    assignment)."""
    from decimal import ROUND_HALF_UP, Decimal

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_ivf_matryoshka_index,
        ivf_matryoshka_topk_batches,
        stream_embeddings,
        write_ivf_matryoshka_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivfmat")
    write_ivf_matryoshka_index(
        embs.filter(F.col("vec_id") < 400), idx,
        n_lists=4, probe_dim=probe_dim,
    )
    append_ivf_matryoshka_index(embs.filter(F.col("vec_id") >= 400), idx)

    cells = spark.read.parquet(idx + "/cells")
    vecs = spark.read.parquet(idx + "/vecs")
    cents = spark.read.parquet(idx + "/centroids")
    assert len(cells.select("vp").first()["vp"]) == probe_dim

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 4).repartition(2).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = ivf_matryoshka_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        vecs,
        cents,
        out,
        k=5,
        n_probe=n_probe,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    cell_rows = cells.collect()
    vec_map = {r["vec_id"]: list(r["v"]) for r in vecs.collect()}
    raw_map = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in embs.filter(F.col("vec_id") < 4).collect()
    }
    cent_rows = sorted(
        (r["cluster"], list(r["centroid"])) for r in cents.collect()
    )
    n_corpus = len(vec_map)
    shortlist = max(8 * 5, n_corpus * n_probe // (8 * 4))
    want = []
    for qid in range(4):
        qraw = raw_map[qid]
        ranked_cells = sorted(
            (
                sum((x - y) * (x - y) for x, y in zip(qraw, c)),
                cl,
            )
            for cl, c in cent_rows
        )
        probed = {cl for _d2, cl in ranked_cells[:n_probe]}
        uq = vec_map[qid]
        qp = uq[:probe_dim]
        qpn = sum(a * a for a in qp) ** 0.5
        cands = []
        for r in cell_rows:
            if r["cluster"] not in probed or r["vec_id"] == qid:
                continue
            vp = list(r["vp"])
            c = sum(a * b for a, b in zip(qp, vp)) / (
                qpn * sum(a * a for a in vp) ** 0.5
            )
            cands.append((-c, r["vec_id"], r["label"]))
        cands.sort()
        for rank, (neg_cos, vid, label) in enumerate(
            sorted(
                (
                    -float(
                        Decimal(
                            repr(sum(a * b for a, b in zip(uq, vec_map[vid])))
                        ).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                    vid,
                    label,
                )
                for _, vid, label in cands[: max(shortlist, 5)]
            )[:5],
            start=1,
        ):
            want.append((qid, vid, label, rank, -neg_cos))
    assert got == sorted(want) and got
    # appended vectors actually serve through their frozen cells
    if probe_dim == 64:
        assert any(t[1] >= 400 for t in got)


def test_ivf_matryoshka_guards_refuse_loudly(spark, tmp_path):
    """The composed family's guard union, each with its distinct
    message: unstamped root, wrong-kind artifact, empty build, ragged
    delta, dup delta ids, torn cells/vecs (append AND probe), pinned
    frame/path width mismatch, and static partition pruning in the
    probed scan."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        append_ivf_matryoshka_index,
        ivf_matryoshka_topk_batches,
        stream_embeddings,
        write_ivf_matryoshka_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 300)
    delta = embs.filter(F.col("vec_id") >= 300)

    with pytest.raises(ValueError, match="empty embeddings"):
        write_ivf_matryoshka_index(
            embs.filter(F.col("vec_id") < 0), str(tmp_path / "e")
        )
    with pytest.raises(ValueError, match="out of range"):
        write_ivf_matryoshka_index(base, str(tmp_path / "w"), probe_dim=0)
    with pytest.raises(ValueError, match="unstamped"):
        append_ivf_matryoshka_index(delta, str(tmp_path / "nowhere"))
    other = str(tmp_path / "notmat")
    _write_index_fingerprint(spark, other, {"kind": "ivf"})
    with pytest.raises(ValueError, match="not a IVF-matryoshka"):
        append_ivf_matryoshka_index(delta, other)

    idx = str(tmp_path / "m")
    write_ivf_matryoshka_index(base, idx, n_lists=4, probe_dim=8)
    with pytest.raises(ValueError, match="already present"):
        append_ivf_matryoshka_index(embs.filter(F.col("vec_id") < 10), idx)
    ragged = spark.createDataFrame(
        [(9001, 1, [0.25] * 32)],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimensional"):
        append_ivf_matryoshka_index(ragged, idx)

    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)
    # pinned probe at a mismatched width refuses (frames from another
    # artifact than the pin)
    idx16 = str(tmp_path / "m16")
    write_ivf_matryoshka_index(base, idx16, n_lists=4, probe_dim=16)
    with pytest.raises(ValueError, match="different artifact"):
        ivf_matryoshka_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/cells"),
            spark.read.parquet(idx + "/vecs"),
            spark.read.parquet(idx + "/centroids"),
            str(tmp_path / "o1"),
            index_path=idx16,
        )

    # tear it: a cells row with no vecs twin
    spark.read.parquet(idx + "/cells").limit(1).withColumn(
        "vec_id", F.lit(77777).cast("long")
    ).write.mode("append").partitionBy("cluster").parquet(idx + "/cells")
    with pytest.raises(ValueError, match="torn artifact"):
        append_ivf_matryoshka_index(delta, idx)
    with pytest.raises(ValueError, match="torn artifact"):
        ivf_matryoshka_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/cells"),
            spark.read.parquet(idx + "/vecs"),
            spark.read.parquet(idx + "/centroids"),
            str(tmp_path / "o2"),
        )


def test_streaming_ivfmat_randomized_corpora_parity(spark):
    """IVF x matryoshka probe/prefix/tie arithmetic vs the pure-Python
    cascade on RANDOMIZED corpora (the `_ivfpq_ranked_plan` /
    `_bm25_postings` precedent): three seeded corpora far outside the
    fixture distribution -- tiny dim, a non-divisor prefix width,
    cluster-starved k-means -- exercised I/O-free through the
    extracted `_ivfmat_ranked_plan`, so tie-rule or probe-rule
    regressions can't hide behind the fixture's geometry."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from big_data_streaming_dashboard_spark.llmdata.similarity import (
        _dvec,
        _normalize,
        ivf_centroids,
        kmeans_assign,
    )
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _ivfmat_ranked_plan,
    )

    for seed in (5, 23, 71):
        rng = random.Random(seed)
        n, dim, probe_dim, k, n_probe, shortlist = 60, 8, 3, 3, 2, 10
        rows = [
            (i, rng.randrange(4), [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)
        ]
        embs = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )
        assigned = kmeans_assign(embs, k=4, iterations=2)
        unit = embs.select(
            "vec_id", "label", _normalize(_dvec("embedding")).alias("v")
        )
        cells = (
            unit.select(
                "vec_id",
                "label",
                F.slice(F.col("v"), 1, probe_dim).alias("vp"),
            )
            .join(assigned, "vec_id")
            .persist()
        )
        vecs = unit.select("vec_id", "v").persist()
        cents = ivf_centroids(
            embs.select("vec_id", _dvec("embedding").alias("vec")).join(
                assigned, "vec_id"
            )
        ).persist()
        batch = embs.filter(F.col("vec_id") < 5)
        ranked, done = _ivfmat_ranked_plan(
            batch, cells, vecs, cents, probe_dim, k, n_probe, shortlist, True
        )
        got = sorted(map(tuple, ranked.collect()))
        done()

        cell_rows = cells.collect()
        vec_map = {r["vec_id"]: list(r["v"]) for r in vecs.collect()}
        cent_rows = sorted(
            (r["cluster"], list(r["centroid"])) for r in cents.collect()
        )
        for df in (cells, vecs, cents):
            df.unpersist()
        want = []
        for qid in range(5):
            qraw = [float(x) for x in rows[qid][2]]
            ranked_cells = sorted(
                (
                    sum((x - y) * (x - y) for x, y in zip(qraw, c)),
                    cl,
                )
                for cl, c in cent_rows
            )
            probed = {cl for _d2, cl in ranked_cells[:n_probe]}
            uq = vec_map[qid]
            qp = uq[:probe_dim]
            qpn = sum(a * a for a in qp) ** 0.5
            cands = []
            for r in cell_rows:
                if r["cluster"] not in probed or r["vec_id"] == qid:
                    continue
                vp = list(r["vp"])
                c = sum(a * b for a, b in zip(qp, vp)) / (
                    qpn * sum(a * a for a in vp) ** 0.5
                )
                cands.append((-c, r["vec_id"], r["label"]))
            cands.sort()
            for rank, (neg_cos, vid, label) in enumerate(
                sorted(
                    (
                        -float(
                            Decimal(
                                repr(
                                    sum(
                                        a * b
                                        for a, b in zip(uq, vec_map[vid])
                                    )
                                )
                            ).quantize(
                                Decimal("0.000001"), rounding=ROUND_HALF_UP
                            )
                        ),
                        vid,
                        label,
                    )
                    for _, vid, label in cands[: max(shortlist, k)]
                )[:k],
                start=1,
            ):
                want.append((qid, vid, label, rank, -neg_cos))
        assert got == sorted(want) and got, seed


def test_hybrid_rrf_fixed_query_serves_from_ann_index(spark, tmp_path):
    """The fixed-keyword hybrid accepts the same ann_index_path dense
    constituent as the keyword endpoint: at full budget (n_probe =
    n_lists, shortlist = corpus) the fused output equals the
    brute-dense form row-for-row, with the leave-one-out filter kept
    ON (corpus-replayed query ids); contradictory roots refuse."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        hybrid_rrf_batches,
        stream_embeddings,
        write_ivfpq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    n_corpus = embs.count()
    pidx = write_ivfpq_index(
        embs, str(tmp_path / "ivfpq"), n_lists=4, n_subspaces=8
    )
    index_vecs = spark.read.parquet(pidx + "/vecs").select(
        "vec_id", F.col("v").alias("vec")
    ).join(embs.select("vec_id", "label"), "vec_id")

    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 3).coalesce(1).write.parquet(qdir)

    out_b = str(tmp_path / "brute")
    hybrid_rrf_batches(
        stream_embeddings(spark, qdir), docs, index_vecs, out_b,
    ).awaitTermination(180)
    out_a = str(tmp_path / "ann")
    hybrid_rrf_batches(
        stream_embeddings(spark, qdir), docs, None, out_a,
        ann_index_path=pidx, n_probe=4, ann_shortlist=n_corpus,
    ).awaitTermination(180)
    brute = sorted(map(tuple, spark.read.parquet(out_b).collect()))
    ann = sorted(map(tuple, spark.read.parquet(out_a).collect()))
    assert ann == brute and ann

    with pytest.raises(ValueError, match="disagree"):
        hybrid_rrf_batches(
            stream_embeddings(spark, qdir), docs, None,
            str(tmp_path / "x"),
            ann_index_path=pidx, index_path=str(tmp_path / "other"),
        )
    with pytest.raises(ValueError, match="got neither"):
        hybrid_rrf_batches(
            stream_embeddings(spark, qdir), docs, None, str(tmp_path / "y")
        )


def test_empty_centroids_refuse_at_probe_construction(spark, tmp_path):
    """r16 review: cells/vecs can pass the torn guard while a LOST
    centroids write leaves zero rows -- the IVF shortlist rule then
    divides by zero (or every query silently probes zero cells).
    `_centroid_count` refuses at construction across the IVF family
    and the dense retriever."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ivf_matryoshka_topk_batches,
        ivf_topk_batches,
        knn_classify_batches,
        stream_embeddings,
        write_ivf_index,
        write_ivf_matryoshka_index,
        write_ivfpq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 200)
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)

    def _empty_out(subdir):
        sch = spark.read.parquet(subdir).schema
        spark.createDataFrame([], sch).write.mode("overwrite").parquet(subdir)

    pidx = str(tmp_path / "ivfpq")
    write_ivfpq_index(base, pidx, n_lists=4, n_subspaces=4)
    _empty_out(pidx + "/centroids")
    with pytest.raises(ValueError, match="centroids artifact is empty"):
        knn_classify_batches(
            stream_embeddings(spark, qdir), None, str(tmp_path / "o1"),
            ann_index_path=pidx,
        )

    midx = str(tmp_path / "ivfmat")
    write_ivf_matryoshka_index(base, midx, n_lists=4, probe_dim=8)
    _empty_out(midx + "/centroids")
    with pytest.raises(ValueError, match="centroids artifact is empty"):
        ivf_matryoshka_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(midx + "/cells"),
            spark.read.parquet(midx + "/vecs"),
            spark.read.parquet(midx + "/centroids"),
            str(tmp_path / "o2"),
        )

    iidx = str(tmp_path / "ivf")
    write_ivf_index(base, iidx, n_lists=4)
    _empty_out(iidx + "/centroids")
    with pytest.raises(ValueError, match="centroids artifact is empty"):
        ivf_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(iidx + "/cells"),
            spark.read.parquet(iidx + "/centroids"),
            str(tmp_path / "o3"),
        )


def test_banded_append_verifies_knobs_against_stamp(spark, tmp_path):
    """r16 review: an append whose banding knobs disagree with the
    existing stamp would hash the delta with DIFFERENT planes than
    the stored corpus and then re-stamp the new knobs -- corrupting
    the artifact while blessing the wrong probes. The banded writers
    now refuse such appends (`_require_append_knobs`); fresh roots
    still stamp from generation 0."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        write_ann_index,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 200)
    delta = embs.filter(
        (F.col("vec_id") >= 200) & (F.col("vec_id") < 240)
    )

    aidx = str(tmp_path / "ann")
    write_ann_index(base, aidx, bands=8, rows_per_band=4, seed=42)
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        write_ann_index(
            delta, aidx, bands=8, rows_per_band=4, seed=7, mode="append"
        )
    with pytest.raises(ValueError, match="knobs disagree.*rows_per_band"):
        write_ann_index(
            delta, aidx, bands=8, rows_per_band=6, seed=42, mode="append"
        )
    # matched knobs append fine; fresh roots stamp from generation 0
    write_ann_index(
        delta, aidx, bands=8, rows_per_band=4, seed=42, mode="append"
    )
    assert (
        spark.read.parquet(aidx + "/vecs").count() == 240
    )
    fresh = str(tmp_path / "fresh")
    write_ann_index(base, fresh, bands=8, rows_per_band=4, mode="append")
    assert spark.read.parquet(fresh + "/fingerprint").count() == 1

    sidx = str(tmp_path / "sem")
    write_semantic_index(base, sidx)
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        write_semantic_index(delta, sidx, seed=9, mode="append")
    write_semantic_index(delta, sidx, mode="append")
    assert spark.read.parquet(sidx + "/vecs").count() == 240

    # the guard keys on the NORMALIZED mode -- Spark writer modes are
    # case-insensitive, so "Append" must not bypass it (r16 review)
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        write_ann_index(
            delta, aidx, bands=8, rows_per_band=4, seed=7, mode="Append"
        )

    # an unstamped root WITH data is a torn build, not a fresh root:
    # its rows' knobs are unverifiable, so appends refuse instead of
    # burying the tear under whatever knobs they bring (r16 review)
    torn = str(tmp_path / "torn")
    write_ann_index(base, torn, bands=8, rows_per_band=4, seed=42)
    import shutil

    shutil.rmtree(torn + "/fingerprint")
    with pytest.raises(ValueError, match="unstamped"):
        write_ann_index(
            delta, torn, bands=8, rows_per_band=4, seed=42, mode="append"
        )


@pytest.mark.parametrize("bits,n_probe", [(8, 2), (2, 4)])
def test_streaming_ivf_quant_matches_python_cascade(
    spark, tmp_path, bits, n_probe
):
    """IVF x quant -- the third multiplied budget pair (precision x
    cells). The streamed output equals a pure-Python recompute of the
    composed cascade (centroid d2 ranking -> probed cells only ->
    code-cosine shortlist over the STORED tinyint codes -> exact
    full-width rerank with HALF_UP display rounding), at the
    near-lossless b=8 and the provably-lossy b=2 rungs. The delta
    fold is covered by the same recompute over an APPENDED artifact
    (the stored cluster and codes ARE the frozen-centroid assignment
    and the per-row quant facts)."""
    from decimal import ROUND_HALF_UP, Decimal

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        append_ivf_quant_index,
        ivf_quant_topk_batches,
        stream_embeddings,
        write_ivf_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivfquant")
    write_ivf_quant_index(
        embs.filter(F.col("vec_id") < 400), idx, n_lists=4, bits=bits
    )
    append_ivf_quant_index(embs.filter(F.col("vec_id") >= 400), idx)

    cells = spark.read.parquet(idx + "/cells")
    vecs = spark.read.parquet(idx + "/vecs")
    cents = spark.read.parquet(idx + "/centroids")

    qdir = str(tmp_path / "queries")
    embs.filter(F.col("vec_id") < 4).repartition(2).write.parquet(qdir)
    out = str(tmp_path / "topk")
    q = ivf_quant_topk_batches(
        stream_embeddings(spark, qdir),
        cells,
        vecs,
        cents,
        out,
        k=5,
        n_probe=n_probe,
        checkpoint=str(tmp_path / "ckpt"),
        index_path=idx,
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    cell_rows = cells.collect()
    vec_map = {r["vec_id"]: list(r["v"]) for r in vecs.collect()}
    raw_map = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in embs.filter(F.col("vec_id") < 4).collect()
    }
    cent_rows = sorted(
        (r["cluster"], list(r["centroid"])) for r in cents.collect()
    )
    n_corpus = len(vec_map)
    shortlist = max(8 * 5, n_corpus * n_probe // (8 * 4))
    want = []
    for qid in range(4):
        qraw = raw_map[qid]
        ranked_cells = sorted(
            (
                sum((x - y) * (x - y) for x, y in zip(qraw, c)),
                cl,
            )
            for cl, c in cent_rows
        )
        probed = {cl for _d2, cl in ranked_cells[:n_probe]}
        uq = vec_map[qid]
        uqn = sum(a * a for a in uq) ** 0.5
        cands = []
        for r in cell_rows:
            if r["cluster"] not in probed or r["vec_id"] == qid:
                continue
            qv = [float(x) for x in r["q"]]
            c = sum(a * b for a, b in zip(uq, qv)) / (
                uqn * sum(a * a for a in qv) ** 0.5
            )
            cands.append((-c, r["vec_id"], r["label"]))
        cands.sort()
        for rank, (neg_cos, vid, label) in enumerate(
            sorted(
                (
                    -float(
                        Decimal(
                            repr(sum(a * b for a, b in zip(uq, vec_map[vid])))
                        ).quantize(
                            Decimal("0.000001"), rounding=ROUND_HALF_UP
                        )
                    ),
                    vid,
                    label,
                )
                for _, vid, label in cands[: max(shortlist, 5)]
            )[:5],
            start=1,
        ):
            want.append((qid, vid, label, rank, -neg_cos))
    assert got == sorted(want) and got
    if bits == 2:
        # appended vectors actually serve through their frozen cells
        assert any(t[1] >= 400 for t in got)


def test_ivf_quant_guards_and_retriever_dispatch(spark, tmp_path):
    """IVF x quant guard union (bits range, wrong kind, empty build,
    ragged/dup delta, torn cells/vecs) + the dense-retriever dispatch:
    at n_probe = n_lists and shortlist = corpus the exact re-rank
    sees every candidate, so the knn endpoint served from the
    ivfquant root equals the brute form row-for-row REGARDLESS of the
    lossy coarse order (the quant collapse argument)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        append_ivf_quant_index,
        knn_classify_batches,
        stream_embeddings,
        write_ann_index,
        write_ivf_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 300)
    delta = embs.filter(F.col("vec_id") >= 300)
    n_corpus = embs.count()

    with pytest.raises(ValueError, match="out of range"):
        write_ivf_quant_index(base, str(tmp_path / "b"), bits=9)
    with pytest.raises(ValueError, match="empty embeddings"):
        write_ivf_quant_index(
            embs.filter(F.col("vec_id") < 0), str(tmp_path / "e")
        )
    other = str(tmp_path / "notq")
    _write_index_fingerprint(spark, other, {"kind": "quant", "bits": 8})
    with pytest.raises(ValueError, match="not a IVF-quant"):
        append_ivf_quant_index(delta, other)

    idx = str(tmp_path / "q")
    write_ivf_quant_index(embs, idx, n_lists=4)
    with pytest.raises(ValueError, match="already present"):
        append_ivf_quant_index(embs.filter(F.col("vec_id") < 10), idx)
    ragged = spark.createDataFrame(
        [(9001, 1, [0.25] * 32)],
        "vec_id long, label int, embedding array<double>",
    )
    with pytest.raises(ValueError, match="dimensional"):
        append_ivf_quant_index(ragged, idx)

    # full-budget collapse through the kind-dispatched retriever
    qdir = str(tmp_path / "knnq")
    embs.filter(F.col("vec_id") < 5).write.parquet(qdir)
    aidx = write_ann_index(embs, str(tmp_path / "ann"))
    out_b = str(tmp_path / "knn_brute")
    knn_classify_batches(
        stream_embeddings(spark, qdir),
        spark.read.parquet(aidx + "/vecs"),
        out_b,
        k=5,
    ).awaitTermination(120)
    out_a = str(tmp_path / "knn_ivfquant")
    knn_classify_batches(
        stream_embeddings(spark, qdir), None, out_a, k=5,
        ann_index_path=idx, n_probe=4, ann_shortlist=n_corpus,
    ).awaitTermination(120)
    kb = sorted(map(tuple, spark.read.parquet(out_b).collect()))
    ka = sorted(map(tuple, spark.read.parquet(out_a).collect()))
    assert ka == kb and ka

    # tear it: a cells row with no vecs twin -- append AND probe refuse
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ivf_quant_topk_batches,
    )

    spark.read.parquet(idx + "/cells").limit(1).withColumn(
        "vec_id", F.lit(77777).cast("long")
    ).write.mode("append").partitionBy("cluster").parquet(idx + "/cells")
    with pytest.raises(ValueError, match="torn artifact"):
        append_ivf_quant_index(delta, idx)
    with pytest.raises(ValueError, match="torn artifact"):
        ivf_quant_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(idx + "/cells"),
            spark.read.parquet(idx + "/vecs"),
            spark.read.parquet(idx + "/centroids"),
            str(tmp_path / "o"),
        )


def test_sink_pins_verify_stamped_kind(spark, tmp_path):
    """r16 review: a nonce pin names a root, but the nonce alone
    cannot tell WHOSE root -- a pin on some other artifact passes
    every per-batch check while the frames' true root rotates
    unpinned. The kind-stamped sinks now verify the pinned root IS
    their kind at construction."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        pq_topk_batches,
        quant_topk_batches,
        stream_embeddings,
        write_ivf_quant_index,
        write_pq_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 200)
    pqidx = write_pq_index(base, str(tmp_path / "pq"))
    qidx = write_ivf_quant_index(base, str(tmp_path / "ivfquant"), n_lists=4)
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)

    with pytest.raises(ValueError, match="not a PQ index"):
        pq_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(pqidx + "/codes"),
            spark.read.parquet(pqidx + "/vecs"),
            spark.read.parquet(pqidx + "/codebooks"),
            str(tmp_path / "o1"),
            index_path=qidx,
        )
    with pytest.raises(ValueError, match="not a quant index"):
        quant_topk_batches(
            stream_embeddings(spark, qdir),
            spark.read.parquet(qidx + "/cells"),
            spark.read.parquet(qidx + "/vecs"),
            str(tmp_path / "o2"),
            index_path=pqidx,
        )


def test_formerly_kindless_sinks_refuse_foreign_pins(spark, tmp_path):
    """r16 verdict item 2 (the recorded r17 schema change): the four
    formerly kind-LESS roots (ann / semantic / rerank / curation) now
    stamp ``kind``, so their own sinks can refuse a foreign pin the
    way the seven kind-stamped layouts do -- a pin on some OTHER
    artifact passes every nonce check while the frames' true root
    rotates unpinned. Kind is checked BEFORE knobs: knob dicts can
    coincide across families at matching values."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        ann_probe_stream,
        ann_topk_batches,
        append_curation_index,
        curation_verdict_batches,
        rerank_topk_batches,
        semantic_verdict_batches,
        stream_documents_full,
        stream_embeddings,
        write_ann_index,
        write_curation_index,
        write_rerank_index,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    base_e = embs.filter(F.col("vec_id") < 150)
    base_d = docs.filter(F.col("doc_id") < 150)
    ann = write_ann_index(base_e, str(tmp_path / "ann"))
    sem = write_semantic_index(base_e, str(tmp_path / "sem"))
    rr = write_rerank_index(base_e, str(tmp_path / "rr"))
    cur = write_curation_index(base_d, base_e, str(tmp_path / "cur"))
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)
    ddir = str(tmp_path / "d")
    base_d.limit(2).select("doc_id", "text", "lang", "source").write.parquet(
        ddir
    )
    q = stream_embeddings(spark, qdir)

    # even matching knob values cannot sneak a semantic root under an
    # ANN probe: kind refuses first
    with pytest.raises(ValueError, match="not a banded ANN index"):
        ann_probe_stream(
            q,
            spark.read.parquet(ann + "/bands"),
            spark.read.parquet(ann + "/vecs"),
            bands=32,
            rows_per_band=8,
            index_path=sem,
        )
    with pytest.raises(ValueError, match="not a banded ANN index"):
        ann_topk_batches(
            q.select(
                F.col("vec_id").alias("query_id"),
                F.lit(1).alias("vec_id2"),
            ),
            str(tmp_path / "o1"),
            index_path=sem,
        )
    with pytest.raises(ValueError, match="not a semantic near-dup index"):
        semantic_verdict_batches(
            q,
            spark.read.parquet(sem + "/bands"),
            spark.read.parquet(sem + "/vecs"),
            str(tmp_path / "o2"),
            bands=32,
            rows_per_band=10,
            index_path=ann,
        )
    with pytest.raises(ValueError, match="not a rerank index"):
        rerank_topk_batches(
            q,
            spark.read.parquet(rr + "/corpus"),
            str(tmp_path / "o3"),
            index_path=cur,
        )
    with pytest.raises(ValueError, match="not a curation index"):
        curation_verdict_batches(
            stream_documents_full(spark, ddir),
            rr,
            str(tmp_path / "o4"),
        )
    # appending five foreign directories into a rerank root refuses at
    # the front door; so does an unstamped target path
    with pytest.raises(ValueError, match="not a curation index"):
        append_curation_index(base_d, base_e, rr)
    with pytest.raises(ValueError, match="no fingerprint"):
        append_curation_index(base_d, base_e, str(tmp_path / "nowhere"))


def test_pre_kind_stamp_roots_stay_serveable_and_arm_on_append(
    spark, tmp_path
):
    """The migration contract for the r17 kind stamps (the
    `_require_bm25_untorn` precedent): a PRE-r17 root -- stamped
    without a ``kind`` key -- keeps serving with the kind guard
    DISARMED (never faked onto an unverifiable root), and ONE append
    re-stamps through the writer's full knob dict, arming the guard.
    While disarmed, a foreign pin is caught only if the knob values
    happen to disagree -- exactly the blind spot the stamp closes."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        _write_index_fingerprint,
        ann_probe_stream,
        semantic_probe_stream,
        stream_embeddings,
        write_ann_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 150)
    idx = write_ann_index(base, str(tmp_path / "ann"))
    # simulate a pre-r17 stamp: same knobs, no kind key
    fp = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    fp.pop("kind"), fp.pop("nonce")
    _write_index_fingerprint(spark, idx, fp)

    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)
    q = stream_embeddings(spark, qdir)
    bands_df = spark.read.parquet(idx + "/bands")
    vecs_df = spark.read.parquet(idx + "/vecs")

    # its own probe still serves (guard disarmed on the legacy stamp)
    assert ann_probe_stream(q, bands_df, vecs_df, index_path=idx) is not None
    # a FOREIGN probe slips past the disarmed kind guard and is caught
    # only by the knob disagreement (rows_per_band 8 vs the stamped 10)
    with pytest.raises(ValueError, match="probe knobs disagree"):
        semantic_probe_stream(q, bands_df, vecs_df, index_path=idx)

    # one append arms the stamp...
    write_ann_index(
        embs.filter((F.col("vec_id") >= 150) & (F.col("vec_id") < 200)),
        idx,
        mode="append",
    )
    kinds = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    assert kinds.get("kind") == "ann"
    # ...after which the same foreign probe refuses on KIND, even at
    # coinciding knob values
    with pytest.raises(ValueError, match="not a semantic near-dup index"):
        semantic_probe_stream(
            q, bands_df, vecs_df, bands=32, rows_per_band=10,
            index_path=idx,
        )
    # and its own probe still serves
    assert ann_probe_stream(q, bands_df, vecs_df, index_path=idx) is not None


@pytest.mark.parametrize("kind", ["pq", "ivf", "matryoshka", "quant"])
def test_rag_dense_retriever_serves_plain_kinds(spark, tmp_path, kind):
    """r16 verdict item 3: `_ann_dense_retriever` dispatches the PLAIN
    servable kinds too (pq / ivf / matryoshka / quant) -- a user
    holding a plain root no longer has to rebuild it as a composed
    index to serve the RAG endpoints' dense constituent. Each kind
    rides the SAME extracted per-batch plan its own probe sink serves
    (`_ivfpq_ranked_plan` etc. with no centroids), and at full budget (shortlist = corpus
    for the shortlist kinds, n_probe = n_lists for plain ivf) the
    ranking collapses to exact brute-force: the knn vote equals the
    brute-dense form row-for-row."""
    from big_data_streaming_dashboard_spark.llmdata.similarity import _dvec
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        knn_classify_batches,
        stream_embeddings,
        write_ivf_index,
        write_matryoshka_index,
        write_pq_index,
        write_quant_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n_corpus = embs.count()
    idx = str(tmp_path / kind)
    if kind == "pq":
        write_pq_index(embs, idx, n_subspaces=8)
    elif kind == "ivf":
        write_ivf_index(embs, idx, n_lists=4)
    elif kind == "matryoshka":
        # a REAL prefix budget: full-shortlist re-rank makes the vote
        # exact regardless of the coarse width
        write_matryoshka_index(embs, idx, probe_dim=16)
    else:
        write_quant_index(embs, idx)

    # brute corpus frame (cosine is scale-invariant, so the raw
    # embeddings serve as the float side)
    index_vecs = embs.select(
        "vec_id", _dvec("embedding").alias("vec"), "label"
    )
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 5).write.parquet(qdir)

    out_b = str(tmp_path / "brute")
    knn_classify_batches(
        stream_embeddings(spark, qdir), index_vecs, out_b, k=5,
    ).awaitTermination(120)
    out_a = str(tmp_path / "served")
    # plain ivf REFUSES a shortlist (no re-rank stage -- the knob
    # would protect nothing; r17 ADVICE): full budget there is
    # n_probe = n_lists alone.
    shortlist = None if kind == "ivf" else n_corpus
    knn_classify_batches(
        stream_embeddings(spark, qdir), None, out_a, k=5,
        ann_index_path=idx, n_probe=4, ann_shortlist=shortlist,
    ).awaitTermination(120)

    brute = sorted(map(tuple, spark.read.parquet(out_b).collect()))
    served = sorted(map(tuple, spark.read.parquet(out_a).collect()))
    assert served == brute and served

    if kind == "ivf":
        with pytest.raises(ValueError, match="no effect on a plain 'ivf'"):
            knn_classify_batches(
                stream_embeddings(spark, qdir), None,
                str(tmp_path / "refused"), k=5,
                ann_index_path=idx, n_probe=4, ann_shortlist=n_corpus,
            )


def test_rerank_append_and_probe_verify_stamped_knobs(spark, tmp_path):
    """r17 review: `write_rerank_index(mode="append")` had neither the
    kind nor the knob guard the other appendable kind-stamped writers
    arm -- an append at the wrong n_bits would sign the delta with a
    different plane/word-count than the stored corpus AND bless the
    mismatch in the re-stamp, and an append onto a foreign root would
    write a /corpus dir into it and overwrite its fingerprint.
    `rerank_topk_batches` likewise never verified its n_bits/seed
    probe knobs against the pinned stamp (the r15 banded blind-spot
    class: kind and nonce both pass while the Hamming filter compares
    garbage)."""
    import shutil

    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        rerank_topk_batches,
        stream_embeddings,
        write_ann_index,
        write_rerank_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 100)
    delta = embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    idx = write_rerank_index(base, str(tmp_path / "rr"))
    ann = write_ann_index(base, str(tmp_path / "ann"))
    qdir = str(tmp_path / "q")
    embs.filter(F.col("vec_id") < 2).write.parquet(qdir)
    q = stream_embeddings(spark, qdir)

    # append at the wrong knobs refuses (write side)
    with pytest.raises(ValueError, match="knobs disagree.*n_bits"):
        write_rerank_index(delta, idx, n_bits=128, mode="append")
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        write_rerank_index(delta, idx, seed=7, mode="append")
    # append onto a FOREIGN kind-stamped root refuses before touching it
    with pytest.raises(ValueError, match="not a rerank index"):
        write_rerank_index(delta, ann, mode="append")
    # case-insensitive writer mode cannot bypass the guard
    with pytest.raises(ValueError, match="knobs disagree"):
        write_rerank_index(delta, idx, n_bits=128, mode="Append")
    # an unstamped root WITH corpus data is a torn build -- refuse
    torn = str(tmp_path / "torn")
    write_rerank_index(base, torn)
    shutil.rmtree(torn + "/fingerprint")
    with pytest.raises(ValueError, match="unstamped"):
        write_rerank_index(delta, torn, mode="append")

    # probe at the wrong knobs refuses at construction (read side)
    corpus = spark.read.parquet(idx + "/corpus")
    with pytest.raises(ValueError, match="knobs disagree.*n_bits"):
        rerank_topk_batches(
            q, corpus, str(tmp_path / "o1"), n_bits=128, index_path=idx
        )
    with pytest.raises(ValueError, match="knobs disagree.*seed"):
        rerank_topk_batches(
            q, corpus, str(tmp_path / "o2"), seed=7, index_path=idx
        )

    # dim parameterizes the planes exactly like n_bits/seed: stamped
    # since r17, a wrong-dim append or probe refuses (r17 second
    # review); pre-r17 stamps without the key pass unchecked
    with pytest.raises(ValueError, match="knobs disagree.*dim"):
        write_rerank_index(delta, idx, dim=32, mode="append")
    with pytest.raises(ValueError, match="knobs disagree.*dim"):
        rerank_topk_batches(
            q, corpus, str(tmp_path / "o3"), dim=32, index_path=idx
        )

    # a matching-knob append still folds and re-stamps
    fp0 = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    write_rerank_index(delta, idx, mode="append")
    fp1 = spark.read.parquet(idx + "/fingerprint").collect()[0].asDict()
    assert fp1["nonce"] != fp0["nonce"]
    assert fp1["kind"] == "rerank" and int(fp1["n_bits"]) == 256
    assert spark.read.parquet(idx + "/corpus").count() == 150

    # a RETRIED delta refuses instead of landing twice (duplicated
    # corpus rows rank into consecutive top-k slots -- the append
    # family's shared _require_disjoint_delta rule, r17 second review)
    with pytest.raises(ValueError, match="must be disjoint"):
        write_rerank_index(delta, idx, mode="append")


def test_ann_append_refuses_retried_delta(spark, tmp_path):
    """r17 third review: the standalone banded-ANN root gets the
    append family's disjoint-delta rule too -- a retried delta landed
    duplicate rows in bands AND vecs, and while the candidate dedup
    absorbs the band side, the vecs join re-multiplies each duplicated
    corpus row so it occupies two consecutive top-k slots. The
    SEMANTIC writer deliberately stays replay-tolerant (its duplicates
    are provably benign -- candidate-pair dedup + MIN aggregate -- and
    `append_curation_index`'s documented crash recovery re-runs the
    same delta)."""
    from big_data_streaming_dashboard_spark.streaming.llm_ingest import (
        write_ann_index,
        write_semantic_index,
    )
    from big_data_streaming_dashboard_spark.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = embs.filter(F.col("vec_id") < 100)
    delta = embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 130))
    idx = write_ann_index(base, str(tmp_path / "ann"))
    write_ann_index(delta, idx, mode="append")
    with pytest.raises(ValueError, match="must be disjoint"):
        write_ann_index(delta, idx, mode="append")
    # overlapping (not just identical) deltas refuse too
    with pytest.raises(ValueError, match="must be disjoint"):
        write_ann_index(
            embs.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 140)),
            idx,
            mode="append",
        )
    # r18 (r17 ADVICE): the guard reads VECS, so vecs must land FIRST
    # -- with bands-first, a crash between the two writes leaves the
    # delta absent from vecs and a retry passes the guard, silently
    # double-appending bands. Simulate the partial-crash state (vecs
    # landed, bands didn't) and pin that the retry refuses at append
    # time instead.
    from big_data_streaming_dashboard_spark.llmdata.similarity import _dvec

    delta2 = embs.filter((F.col("vec_id") >= 130) & (F.col("vec_id") < 150))
    bands_before = spark.read.parquet(idx + "/bands").count()
    (
        delta2.select("vec_id", "label", _dvec("embedding").alias("vec"))
        .write.mode("append")
        .parquet(idx + "/vecs")
    )
    with pytest.raises(ValueError, match="must be disjoint"):
        write_ann_index(delta2, idx, mode="append")
    assert spark.read.parquet(idx + "/bands").count() == bands_before

    # the semantic writer's replay tolerance is unchanged (the
    # curation recovery contract)
    sidx = write_semantic_index(base, str(tmp_path / "sem"))
    write_semantic_index(delta, sidx, mode="append")
    write_semantic_index(delta, sidx, mode="append")  # replay: no raise
