"""Sessionization semantics (operators/sessions.py): known session splits,
the >=gap break boundary, and batch/streaming parity of the same
aggregation. sf-scale lag+cumsum oracle parity rides the ``sessionize``
registry entry."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from starchart_spark.operators import sessions

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(i, minutes, user, value=1.0):
    return (i, T0 + dt.timedelta(minutes=minutes), user, value)


def test_known_sessions_and_gap_boundary(spark):
    gap_min = 8 * 60
    rows = [
        # user 1: two events 10 min apart (one session), then a break of
        # EXACTLY the gap (touching windows MERGE — Spark's native
        # session_window convention, mirrored by the oracle's strict
        # `> INTERVAL` break), then a break of gap+1min (must split)
        _ev(0, 0, 1, 1.5),
        _ev(1, 10, 1, 2.5),
        _ev(2, 10 + gap_min, 1, 4.0),
        _ev(5, 11 + 2 * gap_min, 1, 8.0),
        # user 2: break of gap-1min (must NOT split)
        _ev(3, 0, 2, 1.0),
        _ev(4, gap_min - 1, 2, 1.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        (r.user_id, r.session_start_ms): (r.session_end_ms, r.n_events, r.sum_value)
        for r in sessions.sessionize(df).collect()
    }
    ms = lambda minutes: int((T0 + dt.timedelta(minutes=minutes)).timestamp() * 1000)  # noqa: E731
    assert out == {
        (1, ms(0)): (ms(10 + 2 * gap_min), 3, 8.0),
        (1, ms(11 + 2 * gap_min)): (ms(11 + 3 * gap_min), 1, 8.0),
        (2, ms(0)): (ms(2 * gap_min - 1), 2, 2.0),
    }


def test_streaming_form_matches_batch(spark, tmp_path):
    # the same aggregation over a watermarked file stream:
    # every session whose window closed before the final watermark must
    # emit, and emitted rows must byte-match the batch result
    rows = [_ev(i, i * 30, 100 + (i % 3), float(i)) for i in range(40)]
    # a late tail event far in the future so the watermark passes every
    # earlier session's end
    rows.append(_ev(99, 10_000_000, 999, 0.0))
    df = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "events_src")
    df.write.parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        sessions.sessionize(stream.withWatermark("ts", "1 hour"), gap="8 hours")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = sessions.sessionize(df)
    max_ts_ms = df.agg(F.unix_millis(F.max("ts"))).first()[0]
    wm_ms = max_ts_ms - 3600 * 1000
    expected = {
        tuple(r)
        for r in batch.filter(F.col("session_end_ms") <= wm_ms).collect()
    }
    got = {tuple(r) for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert expected  # the construction must leave closed sessions
    assert got == expected
