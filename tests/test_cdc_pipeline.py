"""Edge cases of the single-pass CDC consume cycle
(plans/cdc_pipeline.py), checked two ways on a crafted ``events``
table: against the ``cdc_end_to_end`` DuckDB twin with the cutoff
substituted, and against the entity state each case should leave."""

from __future__ import annotations

from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from experts_etl_spark.plans.cdc_pipeline import consume_cycle
from experts_etl_spark.plans.registry import ORACLES
from tests.oracle_utils import compare_spark_duckdb

CUTOFF = "2024-03-01"
BEFORE, AFTER = datetime(2024, 2, 20), datetime(2024, 3, 5)

# (event_id, ts, user_id, event_type); ts offsets keep each user's
# event_id order and ts order apart from the cutoff split
EVENTS = [
    # history only: the latest history row stays
    (1, BEFORE, 1, "purchase"),
    (2, BEFORE.replace(day=21), 1, "click"),
    # incoming only: the latest incoming row is inserted
    (10, AFTER, 2, "click"),
    (11, AFTER.replace(day=6), 2, "purchase"),
    # stale incoming (event_id below and equal to the stored one): ignored
    (30, BEFORE, 3, "signup"),
    (25, AFTER, 3, "click"),
    (30, AFTER.replace(day=6), 3, "purchase"),
    # a gated 'view' newer than the stored row: ignored
    (40, BEFORE, 4, "purchase"),
    (41, AFTER, 4, "view"),
    # 'error' as the newest incoming event after an earlier upsert: dropped
    (50, BEFORE, 5, "signup"),
    (51, AFTER, 5, "click"),
    (52, AFTER.replace(day=6), 5, "error"),
    # 'error' for a user with no history: nothing to drop, nothing kept
    (60, AFTER, 6, "error"),
    # a null ts is neither history nor incoming
    (70, BEFORE, 7, "click"),
    (75, None, 7, "purchase"),
    (90, None, 9, "purchase"),
    # an 'error' followed by a newer upsert: the upsert wins
    (80, BEFORE, 8, "signup"),
    (81, AFTER, 8, "error"),
    (82, AFTER.replace(day=6), 8, "purchase"),
    # an 'error' already in the history is state like any other row
    (100, BEFORE, 10, "error"),
    # only a gated 'view' and no history: absent
    (110, AFTER, 11, "view"),
]
EXPECTED = {(1, 2), (2, 11), (3, 30), (4, 40), (7, 70), (8, 82), (10, 100)}


def _write_events(path) -> None:
    ids, ts, users, types = zip(*EVENTS)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array([float(i) for i in ids], pa.float64()),
            "props": pa.array(["{}"] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, path / "events.parquet")


def test_consume_cycle_edge_cases_match_oracle(spark, tmp_path):
    _write_events(tmp_path)
    state = consume_cycle(spark, str(tmp_path), CUTOFF)
    got = {(r.user_id, r.event_id) for r in state.select("user_id", "event_id").collect()}
    assert got == EXPECTED
    with duckdb.connect() as con:
        con.execute("SET TimeZone='UTC'")
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
        )
        sql = ORACLES["cdc_end_to_end"].replace("2024-01-14", CUTOFF)
        assert CUTOFF in sql
        compare_spark_duckdb(state, con, sql)
