"""Sessionization — gap-based session assignment over an event stream.

The idiomatic Spark-first form: ``F.session_window(ts, gap)`` inside a
``groupBy`` — Catalyst's native session-window aggregation (one shuffle on
the user key, sessions merged inside the aggregate; no window-function
lag/cumsum two-pass, no Python). Semantics: each event opens a window
``[ts, ts+gap)``; windows per key merge when they overlap OR touch
(empirically verified: an event landing exactly on the previous window's
end merges), so a session breaks exactly when the gap to the previous
event is ``> gap`` — strictly greater. The window's ``end`` is therefore
``last_event_ts + gap`` — the standard Spark convention, and the oracle
reproduces both rules as ``lag diff > INTERVAL`` + ``max(ts) + INTERVAL``.

At 100 TB this is ONE hash-partition exchange on ``user_id`` with partial
aggregation map-side; contrast the lag+cumsum formulation, which needs a
full sort-window pass AND a second aggregation. The same expression works
unchanged in Structured Streaming: pass a watermarked stream
(``sessionize(stream.withWatermark("ts", "1 hour"))``) to an append-mode
sink, and a session emits once its window end passes the watermark.
session_window is one of the few aggregations Spark can run incrementally
with state cleanup, which is exactly why the operator is expressed this
way rather than via window functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(
    df: DataFrame,
    gap: str = "8 hours",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user sessions: ``(user_id, session_start_ms, session_end_ms,
    n_events, sum_value)``; end = last event + gap (Spark convention)."""
    return (
        df.groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # sum in exact integer micro-units: double-addition ORDER
            # differs between engines and can flip the 6th rounded decimal
            # on a boundary doc (observed on lm_score); each value rounds
            # to 6 dp once, then the sum is an order-independent long.
            F.round(
                F.sum(F.round(F.col(value_col) * F.lit(1e6)).cast("long"))
                / F.lit(1e6),
                6,
            ).alias("sum_value"),
        )
        .select(
            F.col(user_col),
            # parquet timestamps read as TIMESTAMP_NTZ; the session pins
            # spark.sql.session.timeZone=UTC so the cast is epoch-exact
            F.unix_millis(F.col("session_window.start").cast("timestamp")).alias(
                "session_start_ms"
            ),
            F.unix_millis(F.col("session_window.end").cast("timestamp")).alias(
                "session_end_ms"
            ),
            "n_events",
            "sum_value",
        )
    )

