"""Custom stateful streaming operator: event sessionization.

The brief's "custom stateful operators via applyInPandasWithState" surface:
gap-based sessionization of the ``events`` stream, keyed by user.  State per
user is one open session (start, last_ts, n, value_sum); an event later than
``gap`` after the last closes the session (emitted) and opens a new one.

Scale shape: state is O(active users), not O(events); each micro-batch
touches only the groups present in it; event-time processing keeps replays
deterministic.
"""

from __future__ import annotations

import datetime
from typing import Any, Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_start", TimestampType()),
    StructField("session_end", TimestampType()),
    StructField("events", IntegerType()),
    StructField("value_sum", DoubleType()),
    StructField("closed", StringType()),   # 'gap' | 'open'
])

STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n", IntegerType()),
    StructField("value_sum", DoubleType()),
])

_US = 1_000_000


def _ts(us: int) -> datetime.datetime:
    return datetime.datetime.fromtimestamp(us / _US, tz=datetime.timezone.utc).replace(tzinfo=None)


_COLUMNS = ["user_id", "session_start", "session_end", "events", "value_sum", "closed"]


def _row(user_id, start_us, last_us, n, vsum, closed) -> tuple:
    return (user_id, _ts(start_us), _ts(last_us), n, vsum, closed)


def _session_step(
    key: Tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState, gap_us: int
) -> "tuple[list, tuple | None]":
    """The gap-split transition both sessionizers share.  On a timeout the
    stored session closes and the state goes; otherwise this call's events,
    in time order, extend the stored session, and a gap of more than
    ``gap_us`` closes it and opens the next one.  Returns the closed rows
    and the open session ``(user_id, start_us, last_us, n, value_sum)``,
    now stored in ``state`` (None after a timeout)."""
    (user_id,) = key
    rows = []
    if state.hasTimedOut:
        if state.exists:
            rows.append(_row(user_id, *state.get, "gap"))
        state.remove()
        return rows, None
    events = pd.concat(list(pdfs))
    ts_us = (events["ts"].astype("int64") // 1000).tolist()  # ns → µs
    vals = events["value"].tolist()
    order = sorted(range(len(ts_us)), key=lambda i: ts_us[i])
    if state.exists:
        start_us, last_us, n, vsum = state.get
    else:
        start_us, last_us, n, vsum = None, 0, 0, 0.0
    for i in order:
        t, v = ts_us[i], float(vals[i])
        if start_us is None:
            start_us, last_us, n, vsum = t, t, 1, v
        elif t - last_us > gap_us:
            rows.append(_row(user_id, start_us, last_us, n, vsum, "gap"))
            start_us, last_us, n, vsum = t, t, 1, v
        else:
            last_us = max(last_us, t)
            n += 1
            vsum += v
    state.update((start_us, last_us, n, vsum))
    return rows, (user_id, start_us, last_us, n, vsum)


def make_sessionizer(gap_seconds: int = 1800):
    gap_us = gap_seconds * _US

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows, open_session = _session_step(key, pdfs, state, gap_us)
        if open_session is not None:
            state.setTimeoutDuration(gap_seconds * 1000)
            # emit the open session's running view (outputMode=update)
            rows.append(_row(*open_session, "open"))
        yield pd.DataFrame(rows, columns=_COLUMNS)

    return fn


def sessionize(events_stream: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """events(user_id, ts, value, ...) stream → session rows.  Uses
    processing-time timeouts to flush idle users' open sessions."""
    return (
        events_stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch twin of ``sessionize`` — identical session semantics (per-user
    gap split, strict ``> gap``, microsecond precision) expressed as pure
    window/groupBy column algebra.  This is the backfill path AND what makes
    the streaming operator's semantics oracle-checkable: a drained stream's
    closed sessions equal this over the same rows.

    Scale shape: one shuffle on user_id (window + groupBy share the
    partitioning, so Catalyst reuses the exchange); state never materializes
    beyond a lag column."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_us = gap_seconds * _US
    flagged = (
        events.select("user_id", "ts", "value")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                # cast: unix_micros rejects TIMESTAMP_NTZ; only the
                # difference is used, so the timezone attached is irrelevant
                | (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(F.col("prev_ts").cast("timestamp"))
                    > gap_us
                ),
                1,
            ).otherwise(0),
        )
        # default window frame is RANGE → tied timestamps share one
        # cumulative value, so equal-ts events can never straddle a session
        # boundary in either engine
        .withColumn("session_no", F.sum("new_session").over(w).cast("int"))
    )
    return flagged.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("events"),
        F.round(F.sum("value"), 4).alias("value_sum"),
    )


def make_event_time_sessionizer(gap_seconds: int = 1800):
    """Event-time twin of ``make_sessionizer``: sessions close when the
    WATERMARK passes last_event + gap (not when wall-clock elapses), so
    replays of the same stream close the same sessions at the same points —
    the determinism processing-time timeouts can't give.  Append-mode: only
    closed sessions are emitted."""
    gap_us = gap_seconds * _US

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        rows, open_session = _session_step(key, pdfs, state, gap_us)
        if open_session is not None:
            # close when event time (watermark) passes last + gap
            state.setTimeoutTimestamp((open_session[2] + gap_us) // 1000)
        yield pd.DataFrame(rows, columns=_COLUMNS)

    return fn


def sessionize_event_time(
    events_stream: DataFrame, gap_seconds: int = 1800, watermark: str = "1 hour"
) -> DataFrame:
    """events stream → CLOSED session rows, decided by event time.  The
    watermark bounds state retention AND defines when a session is provably
    over (no event within ``gap`` can still arrive) — the late-data story
    the north rule asks for."""
    return (
        events_stream.withWatermark("ts", watermark)
        .select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_event_time_sessionizer(gap_seconds),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
