"""Bradley-Terry strengths: the MM rounds run on one collected row.

The corpus pass (per-(user, day, type) max, the user-day self-join and
the games aggregate) is the only distributed work; the games table is
bounded by the event-type enum squared, so it is collected into one row
and the three MM rounds are array expressions on it. A postured
``count()`` therefore runs at most 2 jobs, and no round adds a join.

The degenerate inputs are tiny ``events.parquet`` files compared with
the DuckDB oracle by the parity value hash.
"""

import datetime as dt

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_poor_main_pipeline_spark.fastpath import execution_posture
from etl_poor_main_pipeline_spark.registry_ext91 import _bt_oracle, q_bradley_terry_strengths
from tests.conftest import SF_DIR, jobs_run
from tools.parity import value_hash

NAME = "bradley_terry_strengths"
DAY0 = dt.datetime(2024, 1, 1, 8, 0, 0)


def test_postured_count_runs_two_jobs(spark):
    with execution_posture(spark, SF_DIR, NAME):
        df = q_bradley_terry_strengths(spark, SF_DIR)
        df.count()
        n, jobs = jobs_run(spark, df.count)
    assert n >= 2
    assert jobs <= 2, f"{NAME}: {jobs} jobs for one postured count()"


def _events(rows):
    """(user_id, day offset, event_type, value) tuples -> events columns."""
    return {
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array(
            [DAY0 + dt.timedelta(days=d, minutes=i) for i, (_, d, _, _) in enumerate(rows)],
            pa.timestamp("us"),
        ),
        "user_id": pa.array([u for u, _, _, _ in rows], pa.int64()),
        "event_type": pa.array([t for _, _, t, _ in rows], pa.string()),
        "value": pa.array([v for _, _, _, v in rows], pa.float64()),
        "props": pa.array(['{"k": 0}'] * len(rows), pa.string()),
    }


# an item that never wins: "c" loses every comparison, so its first
# iterate is 0 and it stays 0
_NEVER_WINS = [
    row
    for u in range(6)
    for row in (
        (u, 0, "a", 10.0 + u),
        (u, 0, "b", 12.0 - u),
        (u, 0, "c", 1.0),
        (u, 1, "a", 5.0),
        (u, 1, "c", 2.0),
    )
]

DEGENERATE = {
    "no_rows": [],
    "one_event_type": [(u, d, "click", 1.0 + u + d) for u in range(4) for d in range(3)],
    "two_types_only_tie": [
        row for u in range(4) for row in ((u, 0, "click", 3.5), (u, 0, "view", 3.5))
    ],
    "null_event_type": [
        (0, 0, "click", 1.0),
        (0, 0, "view", 2.0),
        (0, 0, None, 9.0),
        (1, 0, None, 0.5),
        (1, 0, "click", 4.0),
        (1, 0, "view", 3.0),
        (2, 0, "click", 1.0),
        (2, 0, "view", 7.0),
    ],
    "item_never_wins": _NEVER_WINS,
}


@pytest.mark.parametrize("case", list(DEGENERATE))
def test_degenerate_inputs_match_oracle(spark, tmp_path, case):
    path = tmp_path / "events.parquet"
    pq.write_table(pa.table(_events(DEGENERATE[case])), str(path))
    got = q_bradley_terry_strengths(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    want = con.sql(_bt_oracle()).fetchdf()
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want)
    assert value_hash(got) == value_hash(want)
    if case == "item_never_wins":
        c = got.set_index("event_type").loc["c"]
        assert c.wins == 0 and c.strength_micro == 0
    elif case != "null_event_type":
        assert got.empty
