"""Seeded input generators and the plain-Python ledgers the checks use.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs. Records carry the bronze stream schema
(``sources.streams.BRONZE_STREAM_SCHEMA``): stringly-typed
captured_time/latitude/longitude/value/unit plus event_id and
ingestion_timestamp (epoch ms).

The ledgers re-derive, without Spark, what the program must output:
dedup classes (the composite key of ``functions.keys.dedup_key``,
including the shared ``invalid_key`` for unparseable numerics),
validity, criticality, watermark lateness and the 30 s last-emit alert
cooldown.
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import dataclasses
from dataclasses import dataclass, field
from decimal import ROUND_HALF_EVEN, Decimal, InvalidOperation

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BRONZE_ARROW_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("captured_time", pa.string()),
        ("latitude", pa.string()),
        ("longitude", pa.string()),
        ("value", pa.string()),
        ("unit", pa.string()),
        ("ingestion_timestamp", pa.int64()),
    ]
)

# bronze event ids are file_index * ID_STRIDE + row, so a frame's
# event_id names the file it came from
ID_STRIDE = 1_000_000
N_SENSORS = 3000
ZIPF_S = 1.1
WATERMARK_S = 5
DANGER = 1000
ALERT_THRESHOLD = 1000.0
COOLDOWN_S = 30
# every validator rejection reason (operators/validate.py), in order
DIRT_KINDS = (
    "missing",
    "nonnumeric_lat",
    "nonnumeric_lon",
    "nonnumeric_value",
    "lat_range",
    "lon_range",
    "value_nonpositive",
    "bad_unit",
)


@functools.lru_cache(maxsize=4096)
def timestamp_text(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )


def rounded_value(value: str) -> int:
    """bround(double(value)) as the validator computes it (HALF_EVEN on
    the shortest repr, which equals the 2-dp string)."""
    return int(Decimal(value).to_integral_value(ROUND_HALF_EVEN))


class Sensors:
    """Fixed sensor sites; readings pick a site Zipf-skewed by rank."""

    def __init__(self, rng: np.random.Generator) -> None:
        self.lat = [f"{x:.2f}" for x in rng.uniform(-60.0, 70.0, N_SENSORS)]
        self.lon = [f"{x:.2f}" for x in rng.uniform(-179.0, 179.0, N_SENSORS)]
        w = 1.0 / np.arange(1, N_SENSORS + 1) ** ZIPF_S
        self.p = w / w.sum()

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return rng.choice(N_SENSORS, size=n, p=self.p)


@dataclass
class Record:
    event_id: int
    captured_time: str | None
    latitude: str | None
    longitude: str | None
    value: str | None
    unit: str | None
    ingestion_timestamp: int
    epoch: int  # intended event time (s); meaningless for dirt
    dirt: str | None = None

    def row(self) -> tuple:
        return (
            self.event_id,
            self.captured_time,
            self.latitude,
            self.longitude,
            self.value,
            self.unit,
            self.ingestion_timestamp,
        )


def _dirty(rec: Record, kind: str, rng: np.random.Generator) -> Record:
    rec.dirt = kind
    if kind == "missing":
        if rng.random() < 0.5:
            rec.captured_time = None
        else:
            rec.unit = None
    elif kind == "nonnumeric_lat":
        rec.latitude = "abc"
    elif kind == "nonnumeric_lon":
        rec.longitude = ""
    elif kind == "nonnumeric_value":
        rec.value = "oops"
    elif kind == "lat_range":
        rec.latitude = f"{float(rec.latitude) + 200.0:.2f}"
    elif kind == "lon_range":
        rec.longitude = f"{float(rec.longitude) - 400.0:.2f}"
    elif kind == "value_nonpositive":
        rec.value = rng.choice(["0", "0.40", f"-{float(rec.value):.2f}"])
    elif kind == "bad_unit":
        rec.unit = "usv"
    return rec


def make_file(
    rng: np.random.Generator,
    sensors: Sensors,
    file_index: int,
    n: int,
    t_start: int,
    span_s: int,
    ingest_ms: int,
    dirt_share: float,
    dup_share: float,
    late_share: float,
    critical_share: float,
    critical_at: int | None = None,
) -> list[Record]:
    """One bronze file: ``n`` readings whose intended event times lie in
    [t_start - 4, t_start + span_s) (disorder inside the 5 s
    watermark), except a ``late_share`` 60-120 s behind (beyond it);
    a ``dirt_share`` of them made invalid, cycling through every
    rejection reason; then ``dup_share * n`` exact copies of rows of
    the same file inserted at random positions.
    ``critical_at`` pins the event time of readings >= 1,000 CPM, so a
    cooldown key never sees an earlier reading in a later file."""
    site = sensors.draw(rng, n)
    offs = rng.integers(0, max(span_s, 1), n) - rng.integers(0, 5, n)
    vals = np.exp(rng.normal(np.log(35.0), 0.8, n)).clip(1.0, 900.0)
    crit = rng.random(n) < critical_share
    vals[crit] = rng.uniform(1000.5, 3000.0, crit.sum())
    late = rng.random(n) < late_share
    dirt = rng.random(n) < dirt_share
    suffix = rng.random(n)
    recs: list[Record] = []
    base_id = file_index * ID_STRIDE
    for i in range(n):
        epoch = int(t_start + offs[i])
        if late[i] and file_index > 0:
            epoch = int(t_start - 60 - rng.integers(0, 60))
        if crit[i] and critical_at is not None:
            epoch = critical_at
        ct = timestamp_text(epoch)
        # valid timestamp variants the normalizer strips (P4)
        if suffix[i] < 0.02:
            ct += "Z"
        elif suffix[i] < 0.04:
            ct += ".123"
        elif suffix[i] < 0.05:
            ct += "+09:00"
        s = int(site[i])
        rec = Record(
            base_id + i,
            ct,
            sensors.lat[s],
            sensors.lon[s],
            f"{vals[i]:.2f}",
            "CPM" if suffix[i] > 0.99 else "cpm",
            ingest_ms,
            epoch,
        )
        if dirt[i]:
            rec = _dirty(rec, DIRT_KINDS[i % len(DIRT_KINDS)], rng)
        recs.append(rec)
    n_dup = int(round(n * dup_share))
    for _ in range(n_dup):
        src = recs[int(rng.integers(0, len(recs)))]
        pos = int(rng.integers(0, len(recs) + 1))
        recs.insert(pos, dataclasses.replace(src))
    return recs


def write_parquet(records: list[Record], path: str, mtime: float | None = None) -> None:
    """Write one bronze file atomically (tmp name, then rename) so a
    file-source listing never sees a partial file."""
    cols = list(zip(*(r.row() for r in records)))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, BRONZE_ARROW_SCHEMA)],
        schema=BRONZE_ARROW_SCHEMA,
    )
    d, name = os.path.split(path)
    tmp = os.path.join(os.path.dirname(d), f".{name}.tmp")
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


# --- ledgers ---------------------------------------------------------------


def dedup_key(r: Record) -> tuple | str:
    """Equality class of functions.keys.dedup_key. Generated numerics
    are canonical 2-dp strings, so string equality is numeric
    equality after the 5/5/2-dp rounding."""
    for s in (r.latitude, r.longitude, r.value):
        try:
            if s is None:
                raise InvalidOperation
            float(s)
        except (ValueError, InvalidOperation):
            return "invalid_key"
    return (r.latitude, r.longitude, r.value, r.captured_time or "", r.unit or "")


def is_valid(r: Record) -> bool:
    return r.dirt is None


@dataclass
class ReplayLedger:
    """Expected sink totals for a replay over ordered files."""

    generated: int = 0
    duplicates: int = 0
    late: int = 0
    dirty: int = 0
    normal: int = 0
    critical: int = 0
    dirt_injected: int = 0
    dirt_by_kind: dict = field(default_factory=dict)


def replay_ledger(files: list[list[Record]]) -> ReplayLedger:
    """Simulate streaming dedup (unbounded, first occurrence wins) and
    the 1 s window aggregation's late-row filter. Spark filters late
    rows with the previous batch's watermark, so a row of batch k is
    dropped when its window end <= (max event time of the valid deduped
    rows of batches < k-1) - 5 s."""
    led = ReplayLedger()
    seen: set = set()
    max_epoch: int | None = None
    prev_max: int | None = None  # max over batches < k-1
    for recs in files:
        wm = None if prev_max is None else prev_max - WATERMARK_S
        prev_max = max_epoch
        batch_max = max_epoch
        for r in recs:
            led.generated += 1
            if r.dirt is not None:
                led.dirt_injected += 1
                led.dirt_by_kind[r.dirt] = led.dirt_by_kind.get(r.dirt, 0) + 1
            key = dedup_key(r)
            if key in seen:
                led.duplicates += 1
                continue
            seen.add(key)
            if not is_valid(r):
                led.dirty += 1
                continue
            batch_max = r.epoch if batch_max is None else max(batch_max, r.epoch)
            if wm is not None and r.epoch + 1 <= wm:
                led.late += 1
            elif rounded_value(r.value) >= DANGER:
                led.critical += 1
            else:
                led.normal += 1
        max_epoch = batch_max
    return led


def bounded_ledger(files: list[list[Record]]) -> dict[str, int]:
    """Expected route totals for ``silver_stream(bounded_state=True)``
    on input with no row beyond the watermark: valid rows deduped on
    the composite key, invalid rows passed through without dedup."""
    out = {"normal": 0, "critical": 0, "dirty": 0, "valid_unique": 0, "duplicates": 0}
    seen: set = set()
    for recs in files:
        for r in recs:
            if not is_valid(r):
                out["dirty"] += 1
                continue
            key = dedup_key(r)
            if key in seen:
                out["duplicates"] += 1
                continue
            seen.add(key)
            out["valid_unique"] += 1
            out["critical" if rounded_value(r.value) >= DANGER else "normal"] += 1
    return out


def alert_key(r: Record) -> str:
    """cooldown_key of operators.alerts.alert_candidates."""
    v = rounded_value(r.value)
    sev = "critical" if v >= 2 * ALERT_THRESHOLD else "warning"
    return f"{sev}-{float(r.latitude):.3f},{float(r.longitude):.3f}"


def alert_candidates(files: list[list[Record]]) -> list[Record]:
    """Valid first-occurrence readings at or above the alert threshold."""
    seen: set = set()
    out = []
    for recs in files:
        for r in recs:
            key = dedup_key(r)
            if key in seen:
                continue
            seen.add(key)
            if is_valid(r) and rounded_value(r.value) >= ALERT_THRESHOLD:
                out.append(r)
    return out


def expected_alerts(files: list[list[Record]]) -> list[int]:
    """Event ids the exact 30 s last-emit cooldown emits over the alert
    candidates, per cooldown key in (event time, event id) order."""
    by_key: dict[str, list[tuple[int, int]]] = {}
    for r in alert_candidates(files):
        by_key.setdefault(alert_key(r), []).append((r.epoch, r.event_id))
    out = []
    for rows in by_key.values():
        last = None
        for epoch, eid in sorted(rows):
            if last is None or epoch - last >= COOLDOWN_S:
                out.append(eid)
                last = epoch
    return sorted(out)


# --- gold fixture ----------------------------------------------------------

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def events_table(seed: int, n: int = 100_000) -> pa.Table:
    """An ``events`` table shaped like the sf0.1 fixture (100k rows,
    30 days, 1,500 users, value mostly < 150 with a tail past 250 so
    value * 4 crosses the 1,000 CPM alert threshold)."""
    rng = np.random.default_rng(seed)
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    ts = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n)) + t0
    value = rng.gamma(2.0, 25.0, n)
    tail = rng.random(n) < 0.006
    value[tail] = rng.uniform(250.0, 560.0, tail.sum())
    value = np.round(value, 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
