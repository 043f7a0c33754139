"""Session gap precision: ``sessionize`` and ``session_duration_stats``
start a new session on a gap of more than 30 minutes measured to the
microsecond, exactly as their DuckDB oracles do
(``ts - lag(ts) > INTERVAL 30 MINUTE``).  A gap of 1800.43 s is a new
session; a gap of exactly 1800 s is not."""

from __future__ import annotations

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kafka_connect_morphlines_spark.plans.queries import QUERIES

T0 = dt.datetime(2024, 1, 1)
# (event_id, user_id, seconds after T0): user 1 waits 1800.43 s, user 2 exactly 1800 s
EVENTS = [(0, 1, 0.0), (1, 1, 1800.43), (2, 2, 0.0), (3, 2, 1800.0)]


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("session_gap")
    n = len(EVENTS)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e[0] for e in EVENTS], pa.int64()),
                "ts": pa.array([T0 + dt.timedelta(seconds=e[2]) for e in EVENTS], pa.timestamp("us")),
                "user_id": pa.array([e[1] for e in EVENTS], pa.int64()),
                "event_type": ["view"] * n,
                "value": [1.0] * n,
                "props": ["{}"] * n,
            }
        ),
        d / "events.parquet",
    )
    return str(d)


def _oracle(sf_dir: str, name: str) -> list[tuple]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')")
    return con.sql(QUERIES[name].oracle).fetchall()


def test_sessionize_splits_sub_second_gap(spark, sf_dir):
    got = {r["user_id"]: r["n_sessions"] for r in QUERIES["sessionize"].build(spark, sf_dir).collect()}
    assert got == {1: 2, 2: 1}
    assert got == dict(_oracle(sf_dir, "sessionize"))


def test_session_duration_stats_splits_sub_second_gap(spark, sf_dir):
    [row] = QUERIES["session_duration_stats"].build(spark, sf_dir).collect()
    [want] = _oracle(sf_dir, "session_duration_stats")
    assert row["n_sessions"] == want[0] == 3
