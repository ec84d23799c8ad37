"""Event-time windowed aggregation with a watermark (late data).

The build contract names the full Structured-Streaming triple:
readStream → transformations → writeStream with "watermarks +
windowed aggs for late data". `incremental.py` covers stateless
extraction and `stateful.py` the custom applyInPandasWithState
operator; this module is the watermarked window:

  turn counts per (event-time window, role) with a bounded lateness
  horizon. A late row inside the watermark still lands in its
  original window; a row later than the watermark is dropped and the
  finalized window is never restated — the append-mode property (one
  immutable row per closed window) that makes the output safe to
  consume incrementally. Swapping the `role` key for an extracted
  surface column gives the per-surface variant; the watermark
  mechanics are identical.

The reference has no streaming story at all (its incremental notion
is "skip already-processed qids", s03:277-280); this is the Spark
shape a continuously-arriving transcript feed needs.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from tempel_spark.streaming.incremental import TRANSCRIPT_SCHEMA

__all__ = ["stream_windowed_turn_counts"]


def stream_windowed_turn_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """availableNow run: aggregate new transcript files into
    per-(1-hour event-time window, role) turn counts under a 2-hour
    watermark lateness bound, append finalized windows to ``output_dir``.

    Append mode emits a window exactly once — only after the
    watermark (max seen event time − horizon) passes the window end —
    so reruns never duplicate or restate rows; rows arriving later
    than the horizon are dropped by the engine. State size is bounded
    by (#open windows × #roles), independent of stream length.
    """
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )
    (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )
