"""Title-change slowly-changing dimension + as-of join.

Reference: the history reader emits (title, filtered_date, page_id)
rows whenever a page's title at a cut differs
(misc/wikipedia_history_reader.py:301-368, sink s01:346-362), and the
alias-table stage joins mention stats to title_changes on
(title, filtered_date) (s02_alias_table_generator.py:275-295) — i.e.
"which page held this title AS OF this cut". Generalized here to a
proper SCD-2 dimension + a scalable as-of join.

The as-of join is the union-merge trick, not a range join: tag
change rows and probe rows, union them on the join key, and let one
ordered window carry the latest change attributes forward onto each
probe row. One shuffle per side, no interval explosion, no
O(probe × changes) blowup — the shape that survives 10^12 probe rows
(windows partition by the join key, which is the natural mention-
table distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["build_title_history", "asof_join"]


def build_title_history(revisions: DataFrame) -> DataFrame:
    """Revision stream (page_id, title, rev_ts) → title-change events
    (title, valid_from, page_id): one row whenever a page's title differs from its own
    previous revision (the reference's detect-changed-title fold,
    wikipedia_history_reader.py:301-368). Deterministic: ties on
    (page, ts) ordered by title."""
    w = Window.partitionBy("page_id").orderBy(F.col("rev_ts").asc(), F.col("title").asc())
    prev = F.lag("title").over(w)
    return (
        revisions.select("page_id", "title", "rev_ts")
        .withColumn("_prev", prev)
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col("title")))
        .select("title", F.col("rev_ts").alias("valid_from"), "page_id")
    )


def asof_join(
    probes: DataFrame,
    changes: DataFrame,
    key: str,
    probe_ts: str,
) -> DataFrame:
    """For each probe row: attributes of the LATEST change with
    valid_from ≤ probe_ts for the same key (equal timestamps match —
    the reference joins stats to the title row OF the cut itself,
    s02:275-277).

    changes must be unique per (key, valid_from) — enforced here,
    because a tie would make the carried payload nondeterministic.
    The payload is every change column but key and valid_from; it
    comes back NULL for probes before the first change.
    """
    payload = [c for c in changes.columns if c not in (key, "valid_from")]
    # pin: the eager uniqueness probe below materializes the change
    # frame once and the union-merge then reads the pinned RDD instead
    # of re-deriving the whole changes chain a second time
    changes = changes.localCheckpoint(eager=False)
    dup = (
        changes.groupBy(key, "valid_from").count().filter(F.col("count") > 1).limit(1).count()
    )
    if dup:
        raise ValueError(f"changes not unique per ({key}, valid_from)")

    probe_cols = probes.columns
    clash = set(probe_cols) & ({*payload, "asof_valid_from"})
    if clash:
        raise ValueError(f"probe/payload column clash: {sorted(clash)}")
    change_types = dict(changes.dtypes)
    probe_types = dict(probes.dtypes)

    # probe rows carry their own columns; change rows carry the
    # payload — no synthetic row id (monotonically_increasing_id is
    # retry-nondeterministic), the union itself preserves identity.
    c = changes.select(
        F.col(key).alias("_k"),
        F.col("valid_from").alias("_ts"),
        F.lit(1).alias("_is_change"),
        *[F.lit(None).cast(probe_types[pc]).alias(pc) for pc in probe_cols],
        *[F.col(p) for p in payload],
        F.col("valid_from").alias("asof_valid_from"),
    )
    pu = probes.select(
        F.col(key).alias("_k"),
        F.col(probe_ts).alias("_ts"),
        F.lit(0).alias("_is_change"),
        *probe_cols,
        *[F.lit(None).cast(change_types[p]).alias(p) for p in payload],
        F.lit(None).cast(change_types["valid_from"]).alias("asof_valid_from"),
    )
    # change rows sort BEFORE probe rows at equal ts (desc on the tag)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts").asc(), F.col("_is_change").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = c.unionByName(pu).select(
        "_is_change",
        *probe_cols,
        *[F.last(p, ignorenulls=True).over(w).alias(p) for p in payload],
        F.last("asof_valid_from", ignorenulls=True).over(w).alias("asof_valid_from"),
    )
    return carried.filter(F.col("_is_change") == 0).drop("_is_change")
