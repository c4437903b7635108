"""The benchmark's own tests: each correctness check fails on a
deliberately broken input, and passes on a good one.

    python3 -m pytest perfbench/test_checks.py -q

The Spark tests share one local[2] session and use small files.
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import gold  # noqa: E402
import live  # noqa: E402
import replay  # noqa: E402
from harness import Run  # noqa: E402


def _run(tmp_path) -> Run:
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        return Run("test", 1, 1, False, 0.0)
    finally:
        os.chdir(cwd)


# --- generator and ledgers (no Spark) ---------------------------------------


def test_same_seed_same_bytes(tmp_path):
    a = replay.write_inputs(str(tmp_path / "a"), 5, 1, 1, rows=500)
    b = replay.write_inputs(str(tmp_path / "b"), 5, 1, 1, rows=500)
    assert [r.row() for f in a for r in f] == [r.row() for f in b for r in f]
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    c = replay.write_inputs(str(tmp_path / "c"), 6, 1, 1, rows=500)
    assert [r.row() for r in c[1]] != [r.row() for r in a[1]]


def test_replay_ledger_accounts_for_every_record(tmp_path):
    files = replay.write_inputs(str(tmp_path / "x"), 3, 1, 3, rows=4000)
    led = gen.replay_ledger(files)
    assert led.generated == sum(len(f) for f in files)
    assert led.duplicates + led.late + led.dirty + led.normal + led.critical == led.generated
    assert led.late > 0 and led.critical > 0 and led.duplicates > 0
    assert set(led.dirt_by_kind) == set(gen.DIRT_KINDS)


def _reading(eid: int, epoch: int, lat: str = "10.00") -> gen.Record:
    return gen.Record(eid, gen.timestamp_text(epoch), lat, "20.00", "1500.00", "cpm", 0, epoch)


def test_cooldown_oracle_is_last_emit_not_bucketed():
    # 0 emits; 20 and 29 are suppressed; 30 emits (30 s after the last
    # emit even though 29 came 1 s before); 59 suppressed; 60 emits
    recs = [_reading(i, t) for i, t in enumerate([0, 20, 29, 30, 59, 60])]
    assert gen.expected_alerts([recs]) == [0, 3, 5]
    # another site keeps its own cooldown
    other = [_reading(10, 5, lat="11.00")]
    assert gen.expected_alerts([recs, other]) == [0, 3, 5, 10]


# --- live checks on fabricated phase results (no Spark) ---------------------


class _Client:
    def __init__(self, files, delivered=True):
        import threading

        self.lock = threading.Lock()
        self.error = None
        self.points_at, self.alerts_at = {}, {}
        self.alert_ids = []
        if delivered:
            for f in files:
                k = f[0].event_id // gen.ID_STRIDE
                self.points_at[k] = self.alerts_at[k] = 1.0
            self.alert_ids = gen.expected_alerts(files)


def _live_result(files, clients, **over):
    led = gen.bounded_ledger(files)
    keep = min(led["valid_unique"], 2000)
    phase = types.SimpleNamespace(
        files=files,
        indices=[f[0].event_id // gen.ID_STRIDE for f in files],
        routes=types.SimpleNamespace(counts={r: led[r] for r in ("normal", "critical", "dirty")}),
        state=types.SimpleNamespace(
            cfg=types.SimpleNamespace(retention_points=2000),
            recent=[None] * keep,
            stats={"total_points": keep},
        ),
        delivered=lambda k: all(k in c.points_at and k in c.alerts_at for c in clients),
    )
    res = {"phase": phase, "due": {k: 0.0 for k in phase.indices[1:]}, "backlog": [1, 1], "error": None}
    res.update(over)
    return res


def _live_failures(tmp_path, files, clients, **over) -> list[str]:
    run = _run(tmp_path)
    live.check_phase(run, _live_result(files, clients, **over), clients, "t")
    return run.problems


@pytest.fixture(scope="module")
def live_files():
    return live.build_files(9, 3, 0, live.T0)


def test_live_checks_pass_on_good_result(tmp_path, live_files):
    clients = [_Client(live_files), _Client(live_files)]
    assert _live_failures(tmp_path, live_files, clients) == []


def test_live_checks_catch_each_fault(tmp_path, live_files):
    good = [_Client(live_files), _Client(live_files)]
    lost = [_Client(live_files), _Client(live_files, delivered=False)]
    assert any("not delivered" in p for p in _live_failures(tmp_path, live_files, lost))
    assert any("backlog" in p for p in _live_failures(tmp_path, live_files, good, backlog=[1, 2, 3]))
    assert any(
        "stream thread" in p
        for p in _live_failures(tmp_path, live_files, good, error=RuntimeError("java.lang.StackOverflowError"))
    )
    extra = [_Client(live_files), _Client(live_files)]
    extra[1].alert_ids = extra[1].alert_ids[1:]
    assert any("cooldown oracle" in p for p in _live_failures(tmp_path, live_files, extra))
    res = _live_result(live_files, good)
    res["phase"].routes.counts["dirty"] += 1
    run = _run(tmp_path)
    live.check_phase(run, res, good, "t")
    assert any("routes" in p for p in run.problems)


# --- Spark-backed checks ----------------------------------------------------


@pytest.fixture(scope="module")
def spark_run(tmp_path_factory):
    pytest.importorskip("pyspark")
    root = tmp_path_factory.mktemp("spark")
    cwd = os.getcwd()
    os.chdir(root)
    run = Run("test", 1, 1, False, 0.0)
    run.start_session(cpus=2)
    yield run
    run.close()
    os.chdir(cwd)


def _fresh_tally(run: Run) -> None:
    run.attempted = run.failed = 0
    run.problems = []


def test_drain_matches_ledger_and_a_wrong_ledger_fails(spark_run):
    run = spark_run
    src = run.path("good")
    files = replay.write_inputs(src, 4, 1, 2, rows=2000)
    _fresh_tally(run)
    _, triggers, counts = replay.drain(run, src)
    replay.check_drain(run, files, triggers, counts, "good")
    assert run.problems == []
    # a ledger that lost one record no longer balances
    _fresh_tally(run)
    replay.check_drain(run, [files[0][:-1]] + files[1:], triggers, counts, "broken")
    assert run.failed > 0


def test_reused_checkpoint_is_refused_and_caught(spark_run):
    from big_data_streaming_dashboard_spark.sources import stream_parquet_bronze
    from big_data_streaming_dashboard_spark.streaming.pipeline import full_stream
    from big_data_streaming_dashboard_spark.streaming.sinks import route_foreach_batch

    run = spark_run
    src = run.path("reused")
    files = replay.write_inputs(src, 5, 1, 1, rows=1000)
    replay.drain(run, src)
    with pytest.raises(RuntimeError, match="reused checkpoint"):
        replay.drain(run, src)
    # past the guard, a resumed query reads nothing and the checks say so
    counter = replay.RouteCounter(run)
    q = (
        full_stream(stream_parquet_bronze(run.spark, src))
        .writeStream.foreachBatch(route_foreach_batch(counter))
        .option("checkpointLocation", src + "-checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    _fresh_tally(run)
    replay.check_drain(run, files, replay.data_triggers(q), counter.counts, "resumed")
    assert any("rows processed 0" in p for p in run.problems)


def test_validator_census_catches_unreported_dirt(spark_run):
    run = spark_run
    src = run.path("census")
    files = replay.write_inputs(src, 6, 1, 1, rows=2000)
    _fresh_tally(run)
    replay.validate_census(run, src, files, 1, time_it=False)
    assert run.problems == []
    dirty = next(r for r in files[1] if r.dirt == "bad_unit")
    dirty.dirt = None  # the ledger now under-reports the injected dirt
    _fresh_tally(run)
    replay.validate_census(run, src, files, 1, time_it=False)
    assert run.failed > 0


def test_gold_rows_match_oracle_and_a_different_table_fails(spark_run):
    run = spark_run
    sf = run.path("gold-small")
    gold.write_events(sf, 7, n=5000)
    gold.materialize_silver(run, sf)
    _, rows, _, _ = gold.cycle(run, sf, 0)
    _fresh_tally(run)
    gold.check_oracle(run, rows, gold.oracle_rows(sf))
    assert run.problems == []
    other = run.path("gold-other")
    gold.write_events(other, 8, n=5000)
    gold.check_oracle(run, rows, gold.oracle_rows(other))
    assert run.failed > 0


def test_gold_cycle_rows_must_stay_the_same(tmp_path, monkeypatch):
    import itertools

    first = {v: 10 for v in gold.VIEWS}
    drifted = dict(first, route_counts=11)
    results = itertools.chain([first], itertools.repeat(drifted))
    monkeypatch.setattr(gold, "cycle", lambda run, sf, n: (0.01, next(results), {}, 0.0))
    run = _run(tmp_path)
    run.seconds = 0
    gold.timed_cycles(run, "unused", 1, first)  # one cycle: unchanged
    assert run.attempted == 1 and run.failed == 0
    gold.timed_cycles(run, "unused", 2, first)
    assert run.attempted == 2 and run.failed == 1
