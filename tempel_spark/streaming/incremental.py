"""Incremental transcript ingestion (Structured Streaming).

The batch pipeline recomputes from its checkpoint tables; this module
keeps the MENTION table continuously up to date as new transcript
parquet files land, using `readStream` + `availableNow` triggers so a
cron-style rerun processes exactly the new files and stops — the
exactly-once, resumable shape (checkpointLocation carries the offsets)
that replaces the reference's ad-hoc "skip already-processed qids"
bookkeeping (s03:277-280).

Extraction reuses the SAME Column-expression stage as the batch
pipeline, so incremental and batch outputs are bit-identical —
`test_streaming_incremental` asserts it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from tempel_spark.plans.pipeline import extract_mention_table

__all__ = ["TRANSCRIPT_SCHEMA", "stream_mentions"]

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def stream_mentions(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    snapshots: list[str],
) -> None:
    """Process all transcript parquet files not yet seen (offsets in
    ``checkpoint_dir``), append extracted mentions to ``output_dir``
    partitioned by snapshot, and stop (availableNow trigger). Running
    it again after new files land processes only the delta."""
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    mentions = extract_mention_table(stream, snapshots)
    (
        mentions.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("snapshot_ts")
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )

