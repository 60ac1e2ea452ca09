"""Seeded CDC change generator and its independent truth fold.

The generator produces Debezium-flattened envelopes ``(timestamp,
value-json)`` in the shape ``fixtures.cdc_envelope`` emits, one parquet
file per simulated hour, plus a bootstrap snapshot (``__op = 'r'`` for
every key) on day 0.  Traffic properties the merge path depends on:

* key skew: keys are drawn from a Zipf law over a fixed key space
  (exponent 0 draws them uniformly);
* op mix: each change's ``__op`` is drawn from a fixed c/r/u/d mix,
  independent of the key's state, as in the ``events``-derived stream
  of ``fixtures.cdc_envelope``; a delete followed by a later ``c``,
  ``r`` or ``u`` of the same key is a delete-then-reinsert, and a
  delete of a key already deleted is a no-op;
* equal-timestamp ties: a share of events repeat the previous event's
  key and timestamp with a larger ``event_id``, which must win;
* redelivered duplicates: a share of envelopes appear twice,
  byte-identical, in the same hourly file.

Files are written as TIMESTAMP(MICROS) parquet outside the source
directory and renamed in, so a file-stream source never sees a partial
file (pandas' default nanosecond timestamps make Spark's file stream
fail with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``).

The truth is computed by DuckDB from the generated typed events, never
from Spark output: the ``ORACLE_SNAPSHOT_MERGE`` fold (latest change per
key by ``(timestamp, event_id)``, keys whose latest op is a delete
vanish).
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY = dt.date(2024, 3, 1)  # day 0: the bootstrap snapshot
HOUR_US = 3_600_000_000

ENVELOPE_SCHEMA = pa.schema(
    [("timestamp", pa.timestamp("us", tz="UTC")), ("value", pa.string())]
)
EVENT_SCHEMA = pa.schema(
    [
        ("ts", pa.timestamp("us", tz="UTC")),
        ("id", pa.string()),
        ("event_id", pa.int64()),
        ("value", pa.float64()),
        ("k", pa.string()),
        ("op", pa.string()),
    ]
)


@dataclass(frozen=True)
class CdcSettings:
    keys: int
    rows_per_hour: int
    zipf_s: float
    #: ``(op, probability)`` pairs, probabilities summing to 1
    op_mix: tuple[tuple[str, float], ...]
    tie_frac: float
    dup_frac: float


def day_of(hour: int) -> dt.date:
    """Calendar day of absolute hour ``hour`` (hour 0 = day 1, 00:00)."""
    return EPOCH_DAY + dt.timedelta(days=1 + hour // 24)


def _us(day: dt.date) -> int:
    midnight = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
    return int(midnight.timestamp()) * 1_000_000


class CdcGenerator:
    """Deterministic change stream: the same seed and settings give the
    same events and byte-identical files."""

    def __init__(self, settings: CdcSettings, seed: int) -> None:
        self.s = settings
        self.rng = np.random.default_rng(seed)
        weights = 1.0 / np.arange(1, settings.keys + 1) ** settings.zipf_s
        self.p = weights / weights.sum()
        self.perm = self.rng.permutation(settings.keys)
        self.ops = [op for op, _ in settings.op_mix]
        self.op_p = [p for _, p in settings.op_mix]
        self.next_event_id = 0
        self.events: list[pa.Table] = []

    def _emit(self, ts, keys, ops) -> pa.Table:
        n = len(keys)
        ids = np.arange(self.next_event_id, self.next_event_id + n, dtype=np.int64)
        self.next_event_id += n
        values = np.round(self.rng.uniform(0.0, 500.0, n), 2)
        ks = self.rng.integers(0, 100, n)
        table = pa.table(
            {
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "id": pa.array([str(k) for k in keys], pa.string()),
                "event_id": pa.array(ids, pa.int64()),
                "value": pa.array(values, pa.float64()),
                "k": pa.array([str(k) for k in ks], pa.string()),
                "op": pa.array(ops, pa.string()),
            },
            schema=EVENT_SCHEMA,
        )
        self.events.append(table)
        return table

    def bootstrap(self) -> pa.Table:
        """Day-0 snapshot read: one ``r`` event per key."""
        n = self.s.keys
        ts = _us(EPOCH_DAY) + np.sort(self.rng.integers(0, 24 * HOUR_US, n))
        return self._emit(ts, np.arange(n), ["r"] * n)

    def hour(self, hour: int) -> tuple[pa.Table, int]:
        """Events of absolute hour ``hour``; returns the table and the
        number of redelivered copies to append to its file."""
        s, rng = self.s, self.rng
        n = s.rows_per_hour
        start = _us(day_of(hour)) + (hour % 24) * HOUR_US
        ts = start + np.sort(rng.integers(0, HOUR_US, n))
        draws = self.perm[rng.choice(s.keys, size=n, p=self.p)]
        tie = rng.random(n) < s.tie_frac
        ops = rng.choice(self.ops, size=n, p=self.op_p).tolist()
        keys = np.empty(n, dtype=np.int64)
        for i in range(n):
            if tie[i] and i > 0:
                keys[i], ts[i] = keys[i - 1], ts[i - 1]
            else:
                keys[i] = draws[i]
        return self._emit(ts, keys, ops), int(rng.binomial(n, s.dup_frac))

    def envelopes(self, events: pa.Table, dups: int) -> pa.Table:
        """Events -> ``(timestamp, value)`` envelopes, with ``dups``
        byte-identical redeliveries appended."""
        rows = events.to_pylist()
        values = [
            json.dumps(
                {
                    "id": r["id"],
                    "event_id": r["event_id"],
                    "value": r["value"],
                    "k": r["k"],
                    "__op": r["op"],
                    "__deleted": "true" if r["op"] == "d" else "false",
                },
                separators=(",", ":"),
            )
            for r in rows
        ]
        ts = events.column("ts")
        idx = list(range(len(rows)))
        if dups:
            idx += sorted(self.rng.choice(len(rows), size=dups, replace=False).tolist())
        return pa.table(
            {"timestamp": ts.take(idx), "value": pa.array([values[i] for i in idx])},
            schema=ENVELOPE_SCHEMA,
        )

    def all_events(self) -> pa.Table:
        return pa.concat_tables(self.events)


def drop_file(table: pa.Table, staging_dir: str, source_dir: str, name: str) -> str:
    """Write ``table`` outside the source directory, then rename it in."""
    os.makedirs(staging_dir, exist_ok=True)
    os.makedirs(source_dir, exist_ok=True)
    tmp = os.path.join(staging_dir, name)
    pq.write_table(table, tmp, coerce_timestamps="us")
    dest = os.path.join(source_dir, name)
    os.rename(tmp, dest)
    return dest


TRUTH_SQL = """
SELECT id, event_id, ts, value, k FROM (
  SELECT *, row_number() OVER (
    PARTITION BY id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE ts >= $lo AND ts < $hi
) WHERE rn = 1 AND op <> 'd'
"""


def truth_fold(events: pa.Table, lo: dt.date, hi: dt.date) -> list[tuple]:
    """DuckDB last-writer-wins fold of the events with ingest day in
    ``[lo, hi)`` — rows ``(id, event_id, ts, value, k)``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        con.register("events", events)
        lo_ts = dt.datetime(lo.year, lo.month, lo.day, tzinfo=dt.timezone.utc)
        hi_ts = dt.datetime(hi.year, hi.month, hi.day, tzinfo=dt.timezone.utc)
        return con.execute(TRUTH_SQL, {"lo": lo_ts, "hi": hi_ts}).fetchall()
    finally:
        con.close()
