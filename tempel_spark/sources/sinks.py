"""Sinks (SURVEY.md §2.1 S6-S8).

The reference hand-rolls buffered per-cut CSV/JSONL writer processes
(s01_wikipedia_clean_and_tokenize.py:277-397); Spark's partitioned
writes subsume the buffering, the per-cut fan-out, and the file-size
control.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["write_partitioned", "write_fanout", "write_bucketed"]


def write_partitioned(
    df: DataFrame,
    path: str,
    target_file_mb: int = 128,
    fmt: str = "parquet",
) -> None:
    """S6: per-snapshot partitioned sink. maxRecordsPerFile bounds
    file size the way the reference's 100 MB flush buffer did
    (s01:365-397, s01_config_content.json:11-15); on Iceberg the
    `write.target-file-size-bytes` table property does this instead."""
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max(10_000, target_file_mb * 4_000))
        .partitionBy("snapshot_ts")
        .format(fmt)
        .save(path)
    )


def write_fanout(df: DataFrame, path: str, fmt: str = "json") -> None:
    """S8: route rows to {snapshot}/{subset} files — the reference's
    per-(cut,subset) JSONL writer fan-out
    (s03_final_dataset_creator_utils.py:822-894) as one partitioned
    write (json lines == JSONL)."""
    df.write.mode("overwrite").partitionBy("snapshot_ts", "subset").format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    path: str,
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    fmt: str = "parquet",
) -> None:
    """Bucketed table — the co-located-join layout for the
    big⋈big joins that dominate at 100 TB (mention⋈entity on
    (snapshot_ts, target_id), edge lists on id): two tables bucketed
    the same way join with ZERO Exchange on either side, because the
    bucket layout IS the hash partitioning the join needs
    (plan-asserted in tests/test_plans.py). Iceberg's analogue is a
    `bucket(n, col)` partition transform; the reference has no
    equivalent — it re-shards by hand per cut. sortBy within buckets
    additionally removes the join's Sort when it matches the keys.

    The table is always external, its files at ``path``:
    warehouse.dir is a static config, so the caller names the place."""
    w = df.write.mode("overwrite").format(fmt).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.option("path", path).saveAsTable(table)
