"""Custom stateful streaming operator: first-seen surface dedup via
``applyInPandasWithState`` (the build contract's named mechanism for
custom stateful operators).

Streaming twin of `dedup.exact_dedup`: across micro-batches, emit a
(snapshot_ts, surface) only the FIRST time it is ever seen; GroupState
persists the seen-flag between batches and across restarts (state
lives in the checkpoint). This is the online form of the pipeline's
surface-vocabulary construction — a continuously maintained vocabulary
table at 10^12-turn scale.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from tempel_spark.streaming.incremental import TRANSCRIPT_SCHEMA

__all__ = ["stream_first_seen_surfaces"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("snapshot_ts", T.TimestampType()),
        T.StructField("surface", T.StringType()),
        T.StructField("first_seen_count", T.LongType()),
    ]
)
_STATE_SCHEMA = T.StructType([T.StructField("seen", T.BooleanType())])


def _first_seen(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    if state.exists:
        # already emitted in an earlier micro-batch → suppress
        return iter(())
    state.update((True,))
    snapshot_ts, surface = key
    return iter([pd.DataFrame({"snapshot_ts": [snapshot_ts], "surface": [surface], "first_seen_count": [n]})])


def stream_first_seen_surfaces(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    snapshots: list[str],
) -> None:
    """availableNow run: consume new transcript files, extract
    mentions, and append only never-before-seen (snapshot, surface)
    rows to ``output_dir``. State carries across reruns via the
    checkpoint, so the output is an exactly-once vocabulary stream."""
    from tempel_spark.plans.pipeline import extract_mention_table

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    mentions = extract_mention_table(stream, snapshots)
    firsts = mentions.groupBy("snapshot_ts", "surface").applyInPandasWithState(
        _first_seen,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    (
        firsts.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .outputMode("append")
        .start()
        .awaitTermination()
    )
