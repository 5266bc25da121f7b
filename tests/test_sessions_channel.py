"""The 'sessions' pipeline channel (apply_sessions): epoch-split replay
must equal the one-shot batch operator, boundary-spanning sessions must
merge across epochs, and epoch replays must be ledger no-ops."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from amundsendatabuilder_spark.functions.sessionize import sessionize_events
from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

MIN = 60 * 1_000_000
BASE = 1_700_000_000 * 1_000_000


def _df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["event_id", "ts_us", "user_id", "value"])
    ).select(
        "event_id", F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "user_id", "value",
    )


def _events():
    rows = []
    eid = 0
    # user 1: one session spanning the epoch boundary (5-min gaps), then a
    # separate later session
    for k in range(4):
        rows.append((eid, BASE + k * 5 * MIN, 1, 1.25)); eid += 1
    boundary = len(rows)
    for k in range(4, 6):
        rows.append((eid, BASE + k * 5 * MIN, 1, 1.25)); eid += 1
    rows.append((eid, BASE + 300 * MIN, 1, 2.50)); eid += 1
    # user 2: sessions entirely inside each epoch, >gap apart
    rows.insert(2, (100, BASE, 2, 10.00))
    boundary += 1
    rows.append((101, BASE + 500 * MIN, 2, 0.75))
    # user 3: appears only in epoch 2
    rows.append((102, BASE + 400 * MIN, 3, 3.00))
    return rows[:boundary], rows[boundary:]


def _collect(df):
    return {
        (r["user_id"], r["session_seq"]):
            (r["start_us"], r["end_us"], r["n_events"], r["sum_cents"])
        for r in df.collect()
    }


def test_sessions_channel_matches_batch_operator(spark, warehouse):
    e1, e2 = _events()
    pipe = CDCPipeline(spark, warehouse, n_buckets=8)
    m1 = pipe.apply_sessions(_df(spark, e1), 0)
    m2 = pipe.apply_sessions(_df(spark, e2), 1)
    assert "skipped" not in m1 and "skipped" not in m2

    got = _collect(pipe.user_sessions.read())
    exp = _collect(
        sessionize_events(_df(spark, e1 + e2)).select(
            "user_id", F.col("session_seq").cast("long").alias("session_seq"),
            "start_us", "end_us", F.col("n_events").cast("long").alias("n_events"),
            F.expr("CAST(sum_value * 100 AS BIGINT)").alias("sum_cents"),
        )
    )
    assert got == exp
    # the boundary-spanning session really did merge: user 1 session 1
    # covers 6 events across both epochs
    assert got[(1, 1)][2] == 6 and got[(1, 1)][3] == 750

    # open-session state is one row per user (O(active users))
    state = pipe.session_state.read()
    assert state.count() == 3
    assert state.groupBy("user_id").count().where("count > 1").count() == 0


def test_sessions_epoch_replay_is_noop(spark, warehouse):
    e1, e2 = _events()
    pipe = CDCPipeline(spark, warehouse, n_buckets=8)
    pipe.apply_sessions(_df(spark, e1), 0)
    before = _collect(pipe.user_sessions.read())
    # replaying epoch 0 (with garbage) skips via the channel ledger
    m = pipe.apply_sessions(_df(spark, [(999, BASE, 9, 99.0)]), 0)
    assert m == {"epoch": 0, "skipped": True}
    assert _collect(pipe.user_sessions.read()) == before
    # and a fresh pipeline instance over the same warehouse also skips
    pipe2 = CDCPipeline(spark, warehouse, n_buckets=8)
    assert pipe2.apply_sessions(_df(spark, e1), 0) == {
        "epoch": 0, "skipped": True}
    m2 = pipe2.apply_sessions(_df(spark, e2), 1)
    assert "skipped" not in m2


def test_sessions_out_of_order_batch_raises(spark, warehouse):
    """Input contract: a user with stored state whose batch's first
    session starts at or before the stored session's end is refused before
    any table is prepared, so neither session table advances."""
    e1, e2 = _events()
    pipe = CDCPipeline(spark, warehouse, n_buckets=8)
    pipe.apply_sessions(_df(spark, e2), 0)
    versions = (pipe.user_sessions.current().version,
                pipe.session_state.current().version)
    # users 1 and 2 stored sessions ending at +300 / +500 min; e1 starts at +0
    with pytest.raises(ValueError, match=r"user\(s\) \[1, 2\]"):
        pipe.apply_sessions(_df(spark, e1), 1)
    assert (pipe.user_sessions.current().version,
            pipe.session_state.current().version) == versions
    assert pipe.session_state.last_epoch("sessions") == 0
