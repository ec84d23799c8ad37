"""Alias-table / mention-prior statistics (reference stage s02).

Reference DAG (s02_alias_table_generator.py:146-532, traced in
SURVEY.md §3.2): per snapshot, group links by (mention, entity) →
counts, priors, dense prior ranks, edit-distance features, overlap
type, per-entity aggregates, entity prior.

Spark re-expression: ONE linear DataFrame DAG over all snapshots at
once (the reference loops cuts in Python because pandas is
RAM-bound). Per-mention and per-entity totals are *window sums over
the grouped table*, not join-backs — the aggregate-then-join the
reference hand-writes (s02:365-378,479-499) collapses into window
specs sharing the groupBy shuffle (SURVEY.md §4 "our choice at
authoring time"). Total shuffles: 1 groupBy + window reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import levenshtein_ratio, overlap_type
from tempel_spark.functions.text import normalize_mention

__all__ = ["build_alias_table"]


def build_alias_table(
    links: DataFrame,
    entities: DataFrame | None = None,
) -> DataFrame:
    """links: one row per extracted anchor (mention_text, target_id,
    snapshot_ts).
    entities: optional dimension (entity_id, canonical_name) for the
    edit-distance / overlap features (broadcast — it's the small side,
    exactly the dict the reference copies into each worker process,
    s01:709-712).

    Output columns mirror the reference prior_link_stats table
    (s02:420-532 / FIXTURES.md `alias_stats`).
    """
    base = links.select(
        normalize_mention("mention_text").alias("mention_norm"),
        F.col("target_id").alias("entity_id"),
        "snapshot_ts",
    ).filter(F.col("mention_norm") != "")

    # A1: nr_links per (mention, entity, snapshot)  [the only groupBy
    # shuffle]. Pinned: `g` feeds the window chain AND the snapshot
    # totals — without the pin the scan+normalize+agg runs twice.
    g = base.groupBy("snapshot_ts", "mention_norm", "entity_id").agg(
        F.count(F.lit(1)).alias("nr_links")
    ).localCheckpoint(eager=False)

    w_mention = Window.partitionBy("snapshot_ts", "mention_norm")
    w_entity = Window.partitionBy("snapshot_ts", "entity_id")

    # Windows are grouped BY PARTITION SPEC — all (snapshot, mention)
    # windows first, then all (snapshot, entity) ones. Interleaving
    # them makes Catalyst re-shuffle on every alternation (4 exchanges
    # instead of 2 for the same result).
    out = (
        g
        # -- (snapshot, mention) partitioning --------------------------
        # J4/A3 as window: per-mention total (reference count_mentions, s02:365-378)
        .withColumn("count_mentions", F.sum("nr_links").over(w_mention))
        # A10: prior = nr_links / count_mentions (s02:384-385)
        .withColumn("prior", (F.col("nr_links") / F.col("count_mentions")).cast("double"))
        # W2: dense rank within mention (s02:439-440)
        .withColumn("prior_rank_men", F.dense_rank().over(w_mention.orderBy(F.col("prior").desc())))
        # -- (snapshot, entity) partitioning ---------------------------
        # W1: dense rank within entity (s02:434-435)
        .withColumn("prior_rank", F.dense_rank().over(w_entity.orderBy(F.col("prior").desc())))
        # per-entity aggregates (s02:479-499)
        .withColumn("nr_inlinks", F.sum("nr_links").over(w_entity))
        .withColumn("avg_prior", F.avg("prior").over(w_entity).cast("double"))
        .withColumn("avg_prior_rank", F.avg("prior_rank").over(w_entity).cast("double"))
    )

    # entity_prior = nr_inlinks / all inlinks in snapshot (s02:503-504).
    # NOT a window: Window.partitionBy(snapshot_ts) would force the
    # whole table onto #snapshots partitions (≈10 in the reference) —
    # a parallelism collapse at scale. The A7 two-phase pattern
    # instead: a snapshot-count-sized aggregate, broadcast back.
    snap_totals = g.groupBy("snapshot_ts").agg(F.sum("nr_links").alias("_snap_links"))
    out = out.join(F.broadcast(snap_totals), "snapshot_ts").withColumn(
        "entity_prior", (F.col("nr_inlinks") / F.col("_snap_links")).cast("double")
    ).drop("_snap_links")

    if entities is not None:
        dim = entities.select(
            F.col("entity_id"), F.col("canonical_name")
        )
        out = out.join(F.broadcast(dim), "entity_id", "left")
        # F5/F7: edit-distance + overlap features (s02:461-476)
        out = (
            out.withColumn(
                "edit_distance",
                F.levenshtein(F.col("mention_norm"), normalize_mention("canonical_name")),
            )
            .withColumn(
                "ratio_edit_distance",
                levenshtein_ratio(F.col("mention_norm"), normalize_mention("canonical_name")),
            )
            .withColumn("overlap_type", overlap_type(F.col("mention_norm"), F.col("canonical_name")))
        )
    return out
