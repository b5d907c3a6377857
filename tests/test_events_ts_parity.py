"""Batch/stream parity of events.ts across its physical parquet flavors.

The catalog's batch scan and the events stream read ts through one
dispatch (catalog.normalize_events_ts) over the schema the batch scan
inferred. For each flavor a real user's parquet can hold, the stream
(memory sink) must return exactly the ts values load_table returns.
Legacy INT96 is covered by tests/test_stream_int96.py."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from celeborn_spark.catalog import load_table
from celeborn_spark.streaming.events import read_events_stream

# flavor -> (arrow type written, expected parquet logical type fragment)
FLAVORS = {
    "nanos": (pa.timestamp("ns"), "timeUnit=nanoseconds"),
    "micros_naive": (pa.timestamp("us"), "isAdjustedToUTC=false, timeUnit=microseconds"),
    "micros_utc": (pa.timestamp("us", tz="UTC"), "isAdjustedToUTC=true, timeUnit=microseconds"),
}


def _write_events(path: str, ts_type: pa.DataType) -> None:
    n = 40
    base = 1_700_000_000_000_000_000  # ns since epoch
    # sub-microsecond digits exercise the NANOS truncation to micros
    ns = [base + i * 3_600_000_123_457 for i in range(n)]
    ts = pa.array(ns, pa.timestamp("ns")).cast(ts_type, safe=False)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": ts,
            "user_id": pa.array([i % 7 for i in range(n)], pa.int64()),
            "event_type": pa.array(["view", "click", "purchase", "view"] * (n // 4)),
            "value": pa.array([i * 0.5 for i in range(n)], pa.float64()),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, path)


@pytest.mark.parametrize("flavor", sorted(FLAVORS))
def test_events_stream_ts_matches_load_table(spark, tmp_path, flavor):
    ts_type, logical = FLAVORS[flavor]
    path = str(tmp_path / "events.parquet")
    _write_events(path, ts_type)
    assert logical in str(pq.ParquetFile(path).schema.column(1).logical_type)

    batch = load_table(spark, str(tmp_path), "events").select("event_id", "ts")
    assert batch.schema["ts"].dataType.typeName() == "timestamp"
    want = sorted(tuple(r) for r in batch.collect())

    name = f"events_ts_parity_{flavor}"
    stream = read_events_stream(spark, str(tmp_path)).select("event_id", "ts")
    assert stream.schema["ts"].dataType.typeName() == "timestamp"
    q = stream.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM {name}").collect())
    finally:
        q.stop()

    assert len(want) == 40
    assert got == want
    # micros survive in every flavor (NANOS truncates, never rounds)
    assert want[1][1] - want[0][1] == dt.timedelta(hours=1, microseconds=123)
