"""The events table's physical timestamp unit has changed across driver
testdata generations (TIMESTAMP(NANOS) in rounds 1-3, TIMESTAMP(MICROS)
since round 4), and a hard-coded unit silently scales every
window/session/as-of computation by 1000x (the round-4 tumbling_window /
sessionize regression).  Pin the sniffing reader: whatever the file
stores, ``_events`` must expose ``tus`` = epoch-MICROS as a long.
"""

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

ROWS = [
    # (event_id, micros, user_id, event_type, value, props)
    (1, 1_600_000_000_123_456, 7, "click", 1.5, "{}"),
    (2, 1_600_000_003_000_001, 7, "purchase", 9.0, "{}"),
    (3, 1_600_900_000_000_000, 8, "view", 0.25, "{}"),
]


def _write_events(dirpath: str, unit: str) -> str:
    os.makedirs(dirpath, exist_ok=True)
    scale = {"us": 1, "ns": 1000}[unit]
    table = pa.table({
        "event_id": pa.array([r[0] for r in ROWS], pa.int64()),
        "ts": pa.array([r[1] * scale for r in ROWS], pa.timestamp(unit)),
        "user_id": pa.array([r[2] for r in ROWS], pa.int64()),
        "event_type": pa.array([r[3] for r in ROWS], pa.string()),
        "value": pa.array([r[4] for r in ROWS], pa.float64()),
        "props": pa.array([r[5] for r in ROWS], pa.string()),
    })
    pq.write_table(table, os.path.join(dirpath, "events.parquet"))
    return dirpath


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_tus_is_epoch_micros_for_any_physical_unit(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path / unit), unit)
    assert entrymod._events_ts_unit(os.path.join(sf_dir, "events.parquet")) == unit
    got = {r.event_id: r.tus
           for r in entrymod._events(spark, sf_dir).select("event_id", "tus").collect()}
    assert got == {r[0]: r[1] for r in ROWS}


def test_events_tus_is_timezone_independent(tmp_path):
    """unix_micros on the explicit TimestampType schema must return the
    raw stored micros whatever the session time zone is — the driver's
    session does not pin UTC."""
    from pyspark.sql import SparkSession
    sf_dir = _write_events(str(tmp_path / "tz"), "us")
    spark = SparkSession.builder.master("local[2]").getOrCreate()
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Taipei", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = {r.event_id: r.tus for r in
                   entrymod._events(spark, sf_dir).select("event_id", "tus").collect()}
            assert got == {r[0]: r[1] for r in ROWS}, tz
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
