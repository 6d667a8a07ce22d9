"""Event-time streaming operators over arriving corpus/event data.

The reference is batch-only (SURVEY §2.10); these are the
Spark-native streaming faces a production ingestion needs:

  * ``windowed_ingest_stats`` — tumbling event-time windows with a
    watermark: per-window document/span counts, append mode (only
    FINALIZED windows reach the sink; late rows older than the
    watermark are dropped — the late-data contract).
  * ``sessionize_stream`` — a CUSTOM STATEFUL operator via
    ``applyInPandasWithState``: 30-min-gap sessionization (the
    streaming face of W1 / the batch ``event_sessions`` query) with
    event-time timeouts closing idle sessions exactly once.

Both run with ``trigger(availableNow=True)`` for deterministic
catch-up processing: repeated invocations resume from the checkpoint,
watermarks persist across runs, and every emitted row is emitted
exactly once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

INGEST_SCHEMA = "doc_id string, event_ts timestamp, n_spans int"
EVENTS_SCHEMA = "user_id long, ts timestamp, event_id long"

SESSION_GAP_SEC = 1800  # 30 min, same as the batch event_sessions query

SESSION_OUT_SCHEMA = ("user_id long, session_start timestamp, "
                      "session_end timestamp, n_events long")
SESSION_STATE_SCHEMA = ("start long, last long, n long")


class _utc_session_tz:
    """Pin ``spark.sql.session.timeZone`` to UTC for the duration of a
    streaming query and restore it afterwards.

    applyInPandasWithState hands the Python side tz-NAIVE pandas
    timestamps rendered in the session timezone, but
    ``setTimeoutTimestamp`` is compared against the engine's true-UTC
    watermark. Any non-UTC session timezone therefore skews epoch
    arithmetic: west of UTC the timeout can fall below the current
    watermark (IllegalArgumentException kills the query); east of UTC
    idle sessions close late by the offset. Pinning UTC makes
    ``Timestamp.timestamp()`` the true epoch on both sides."""

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self):
        self._old = self._spark.conf.get("spark.sql.session.timeZone")
        self._spark.conf.set("spark.sql.session.timeZone", "UTC")

    def __exit__(self, *exc):
        self._spark.conf.set("spark.sql.session.timeZone", self._old)


def windowed_ingest_stats(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str) -> None:
    """Tumbling 10-minute-window ingest statistics with late-data
    handling: windows finalize once the 10-minute watermark passes
    their end; rows arriving later than the watermark never mutate a
    finalized window."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    with _utc_session_tz(spark):
        stream = spark.readStream.schema(INGEST_SCHEMA).parquet(input_dir)
        agg = (
            stream.withWatermark("event_ts", "10 minutes")
            .groupBy(F.window("event_ts", "10 minutes"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_spans").alias("total_spans"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "n_docs", "total_spans")
        )
        q = (agg.writeStream.outputMode("append")
             .format("parquet").option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()


def _sessionize_group(key, pdfs, state):
    """applyInPandasWithState body: per-user open-session state
    (start, last, n as epoch seconds/counts); emits a session row when
    a 30-min gap closes it in-batch, or when the event-time timeout
    fires (watermark passed last+gap)."""
    import pandas as pd
    (user_id,) = key

    def emit(start, last, n):
        return pd.DataFrame({
            "user_id": [user_id],
            "session_start": [pd.Timestamp(start, unit="s")],
            "session_end": [pd.Timestamp(last, unit="s")],
            "n_events": [n]})

    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield emit(start, last, n)
        return

    ts_list = []
    for pdf in pdfs:
        ts_list.extend(int(v.timestamp()) for v in pdf["ts"])
    ts_list.sort()

    if state.exists:
        start, last, n = state.get
    else:
        start = last = None
        n = 0
    out = []
    pre = []  # stragglers older than the open session by > the gap
    for t in ts_list:
        if last is None:
            start, last, n = t, t, 1
        elif t < start - SESSION_GAP_SEC:
            # a straggler older than the open session by more than the
            # gap belongs to an already-closed EARLIER session — fusing
            # it into the open one would span a silence the batch
            # semantics always splits; collect, gap-group below
            pre.append(t)
        elif t - last > SESSION_GAP_SEC:
            out.append((start, last, n))
            start, last, n = t, t, 1
        else:
            # an out-of-order event inside the gap extends the session
            # but must never move its boundaries backward (a regressed
            # `last` would mis-time the event-time timeout and truncate
            # session_end)
            n += 1
            last = max(last, t)
            start = min(start, t)
    if pre:
        # gap-group the pre-session stragglers with the same sweep as
        # the main loop (several within one gap of each other form ONE
        # session, per the batch event_sessions semantics); every group
        # is closed — each member lies > gap before the open session
        ps, pl, pn = pre[0], pre[0], 1
        for t in pre[1:]:
            if t - pl > SESSION_GAP_SEC:
                out.append((ps, pl, pn))
                ps, pl, pn = t, t, 1
            else:
                pn += 1
                pl = t
        out.append((ps, pl, pn))
        out.sort()
    if last is not None:
        state.update((start, last, n))
        # close the open session once the watermark passes last + gap
        state.setTimeoutTimestamp((last + SESSION_GAP_SEC) * 1000)
    for s in out:
        yield emit(*s)


def sessionize_stream(spark: SparkSession, input_dir: str,
                      output_dir: str, checkpoint_dir: str,
                      watermark: str = "0 seconds") -> None:
    """30-min-gap user sessionization as a custom stateful streaming
    operator (the streaming W1): sessions closed by an in-batch gap or
    by event-time timeout are appended to the sink exactly once.
    ``watermark`` is the lateness allowance: stragglers younger than it
    still extend their open session (without ever regressing its
    boundaries); older ones are dropped by the engine."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    os.makedirs(checkpoint_dir, exist_ok=True)
    with _utc_session_tz(spark):
        stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
        sessions = (
            stream.withWatermark("ts", watermark)
            .groupBy("user_id")
            .applyInPandasWithState(
                _sessionize_group,
                outputStructType=SESSION_OUT_SCHEMA,
                stateStructType=SESSION_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout)
        )
        q = (sessions.writeStream.outputMode("append")
             .format("parquet").option("path", output_dir)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()
