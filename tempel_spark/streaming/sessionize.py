"""Custom stateful streaming operator #4: gap-based sessionization
via ``applyInPandasWithState`` with EVENT-TIME TIMEOUTS.

Streaming twin of the batch `q_sessionize` query: per conversation,
group consecutive turns into sessions separated by silence gaps.
Two close paths, both exercised by tests:

* data-path close — a new turn arriving more than `gap` after the
  session's last turn closes the old session immediately (emitted in
  the same micro-batch, no watermark dependence);
* timeout close — a session with NO further turns closes when the
  event-time watermark passes `last_turn + gap`
  (`GroupStateTimeout.EventTimeTimeout` +
  `state.setTimeoutTimestamp`), so open sessions cannot leak state
  forever: state size is bounded by the number of OPEN sessions,
  independent of stream length.

The reference has no streaming (SURVEY §2.10); this extends the
engine's streaming triple (incremental, first-seen dedup, windowed
agg) with the remaining textbook stateful shape.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tempel_spark.streaming.incremental import TRANSCRIPT_SCHEMA

__all__ = ["stream_sessionize"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_turns", T.LongType()),
    ]
)
GAP_SECONDS = 30 * 60  # silence that closes a session
# (start, last, n) as epoch seconds — GroupState tuples are positional
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_s", T.LongType()),
        T.StructField("last_s", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def _session_row(conv_id: str, start_s: int, last_s: int, n: int) -> pd.DataFrame:
    # utc=True: the epochs are true UTC seconds; a naive datetime here
    # would be re-interpreted in the session timezone on the way out
    return pd.DataFrame(
        {
            "conv_id": [conv_id],
            "session_start": [pd.to_datetime(start_s, unit="s", utc=True)],
            "session_end": [pd.to_datetime(last_s, unit="s", utc=True)],
            "n_turns": [n],
        }
    )


def _sessionize(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    conv_id = key[0]
    # ts_epoch is computed JVM-side (timestamp→long cast = true UTC
    # epoch seconds); Arrow's pdf["ts"] would be session-timezone-
    # naive and skew the timeout math against the UTC watermark
    ts: list[int] = []
    for pdf in pdfs:
        ts.extend(int(x) for x in pdf["ts_epoch"])

    if state.hasTimedOut:
        # watermark passed last+gap with no new turns → close
        start_s, last_s, n = state.get
        state.remove()
        return iter([_session_row(conv_id, start_s, last_s, n)])

    # Interval merge over (sorted) turns + the open session: a turn
    # belongs to a session iff it lies within `gap` of it. A late
    # (watermark-permitted) turn arriving more than `gap` BEFORE
    # the open session's start is gap-separated from it, so it
    # forms (or extends) an EARLIER session that closes immediately
    # instead of being absorbed — with watermark ≤ gap this branch
    # never fires (lateness < gap), but a caller configuring
    # watermark > gap gets correct splits rather than spuriously
    # merged sessions. Only the LAST (latest) session stays open;
    # earlier ones can, in principle, still miss a not-yet-arrived
    # turn between them — the watermark bounds that to the same
    # degree it bounds any append-mode emission.
    items = [(t, t, 1) for t in sorted(ts)]
    if state.exists:
        items.append(tuple(state.get))
        items.sort()
    if not items:
        return iter([])
    merged: list[list[int]] = []
    for s, e, n in items:
        if merged and s - merged[-1][1] <= GAP_SECONDS:
            cur = merged[-1]
            cur[1] = max(cur[1], e)
            cur[2] += n
        else:
            merged.append([s, e, n])
    out = [_session_row(conv_id, s, e, n) for s, e, n in merged[:-1]]
    start_s, last_s, n = merged[-1]
    state.update((int(start_s), int(last_s), int(n)))
    # timeout must sit strictly past the current watermark
    timeout_ms = max(
        (last_s + GAP_SECONDS) * 1000, state.getCurrentWatermarkMs() + 1
    )
    state.setTimeoutTimestamp(timeout_ms)
    return iter(out)


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
) -> None:
    """availableNow run: consume new transcript files and append every
    CLOSED session to ``output_dir``; open sessions persist in the
    checkpoint and close on a later run (new turn past the 30-minute
    gap, or watermark timeout)."""
    from pyspark.sql import functions as F

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(input_dir)
        .withWatermark("ts", watermark)
        .withColumn("ts_epoch", F.col("ts").cast("long"))
    )
    sessions = stream.groupBy("conv_id").applyInPandasWithState(
        _sessionize,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    (
        sessions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )
