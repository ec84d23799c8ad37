"""Temporal snapshotting: as-of selection + snapshot assignment
(SURVEY.md §2.5 W5 — the one genuinely temporal operator).

Reference: WikipediaHistoryReader folds a page's revision stream into
one *stable* version per time cut — the latest revision ≤ cut that
either lived ≥ `min_days_stable_page_version` (10 days) or is older
than `max_look_back` (30 days)
(misc/wikipedia_history_reader.py:233-299,370-383;
params s01_config_content.json:25-28).

Spark shape: a single window over (key, snapshot) — `lead()` gives
each revision its lifetime, `row_number()` picks the winner. One
shuffle on the key; partition-prunable by snapshot afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["assign_snapshot", "asof_stable_version", "yearly_snapshots"]


def yearly_snapshots() -> list[str]:
    """The reference's time_cut_list: ten Jan-1 yearly cuts, 2013
    through 2022 (s01_config_content.json:29-40)."""
    return [f"{2013 + i}-01-01 00:00:00" for i in range(10)]


def assign_snapshot(df: DataFrame, ts_col: str, snapshots: list[str]) -> DataFrame:
    """Tag each row with the *next* cut ≥ ts (rows after the last cut
    are dropped, mirroring the reference's per-cut filtering).

    The cut list is tiny (10 in the reference) and known at plan time,
    so this is a pure PROJECTION — a when-chain over sorted cuts, zero
    shuffle, fully codegen'd. (A values-join + groupBy would shuffle
    the entire 10^12-row corpus just to attach one column.)
    """
    snaps = sorted(snapshots)
    ts = F.col(ts_col)
    expr = None
    for s in reversed(snaps):
        cut = F.to_timestamp(F.lit(s))
        expr = F.when(ts <= cut, cut) if expr is None else F.when(ts <= cut, cut).otherwise(expr)
    # reversed build means the FIRST (smallest) matching cut wins
    out = df.withColumn("snapshot_ts", expr)
    return out.filter(F.col("snapshot_ts").isNotNull())


def asof_stable_version(
    revisions: DataFrame,
    key_cols: list[str],
    snapshots: list[str],
    min_days_stable: int = 10,
    max_look_back_days: int = 30,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """One stable row per (key, snapshot) — the FULL reference
    securing rule (wikipedia_history_reader.py:255-299), as pure
    window arithmetic (no per-group Python). Revisions carry their
    timestamp in ``rev_ts``. A revision r (lifetime = time to its
    successor s) is SECURED for a cut iff

      (a) r is already old at the cut: floor((cut − r.ts) in days)
          > max_look_back (the reader's branch-1, strict, day-
          truncated, :262-266); or
      (b) its successor falls inside the look-back regime
          (floor((cut − s.ts) days) ≤ max_look_back — s may postdate
          the cut) AND r's lifetime either reaches min_days_stable
          (:287) OR **exceeds every earlier revision's lifetime**
          (the running max_time_lapse_between_revisions branch,
          :286-293 — a revision that out-lived all predecessors is
          trusted even when young); or
      (c) r is the stream's NEWEST revision (no successor at all)
          and at end-of-stream its age at the cut stands in for its
          lifetime: secured iff some lapse was recorded (running max
          > 0) AND (running max ≤ age-at-cut OR age-at-cut ≥
          min_days_stable) — the reader's finalization block
          (:370-383). (When a post-cut successor exists the
          finalization no-ops: its lapse-to-cut is negative.)

    The reader's running max is a sequential fold, but it reduces to
    a prefix-max window: a lifetime that does not trigger the branch
    is ≤ the running max, so the running max always equals the max of
    ALL prior in-regime lifetimes. The winner per (key, cut) is the
    secured revision with the latest ts (the fold's last securing
    event); when nothing is secured, the FIRST revision ≤ cut is kept
    unconditionally ("IF it is the first one, puts it anyway").
    Parity with the literal sequential fold is property-tested
    (tests/test_asof_reference_fold.py).
    """
    spark = revisions.sparkSession
    sdf = spark.createDataFrame([(s,) for s in snapshots], "cut string").select(
        F.to_timestamp("cut").alias("snapshot_ts")
    )

    # deterministic ordering even under ts ties (retry-stability)
    tb = tiebreak_cols or []

    # lifetime of each revision = time until the next one (per key)
    w_life = Window.partitionBy(*key_cols).orderBy(F.col("rev_ts"), *[F.col(c) for c in tb])
    with_life = revisions.withColumn("_next_ts", F.lead("rev_ts").over(w_life))

    cand = with_life.join(F.broadcast(sdf), F.col("rev_ts") <= F.col("snapshot_ts"), "inner")

    lived_secs = F.unix_timestamp("_next_ts") - F.unix_timestamp("rev_ts")  # null for newest
    age_days = F.floor(
        (F.unix_timestamp("snapshot_ts") - F.unix_timestamp("rev_ts")) / F.lit(86400)
    )
    succ_age_days = F.floor(
        (F.unix_timestamp("snapshot_ts") - F.unix_timestamp("_next_ts")) / F.lit(86400)
    )
    in_regime = F.col("_next_ts").isNotNull() & (succ_age_days <= max_look_back_days)

    w_prefix = (
        Window.partitionBy(*key_cols, "snapshot_ts")
        .orderBy(F.col("rev_ts"), *[F.col(c) for c in tb])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cand = cand.withColumn("_lived", lived_secs).withColumn("_in_regime", in_regime)
    runmax_before = F.coalesce(
        F.max(F.when(F.col("_in_regime"), F.col("_lived"))).over(w_prefix), F.lit(0)
    )
    age_secs = F.unix_timestamp("snapshot_ts") - F.unix_timestamp("rev_ts")
    # (c): end-of-stream finalization for the un-superseded newest
    # revision — age-at-cut stands in for lifetime, gated on a
    # recorded lapse (reader:370-383; lapse-to-cut of a post-cut
    # last-processed revision is negative, so those no-op there and
    # here _next_ts is non-null for them anyway)
    final_secured = (
        F.col("_next_ts").isNull()
        & (runmax_before > 0)
        & ((runmax_before <= age_secs) | (age_secs >= min_days_stable * 86400))
    )
    stable = (
        (age_days > max_look_back_days)
        | (
            F.col("_in_regime")
            & (
                (F.col("_lived") >= min_days_stable * 86400)
                | (F.col("_lived") > runmax_before)
            )
        )
        | final_secured
    )

    # one window: secured rows first (latest wins), else earliest row —
    # encoded as a single sort key so it stays one shuffle.
    u = F.unix_timestamp(F.col("rev_ts"))
    pick_key = F.when(F.col("_stable"), u).otherwise(-u)
    w_pick = Window.partitionBy(*key_cols, "snapshot_ts").orderBy(
        F.col("_stable").desc(), pick_key.desc(), *[F.col(c).desc() for c in tb]
    )
    return (
        cand.withColumn("_stable", F.coalesce(stable, F.lit(False)))
        .withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_stable", "_next_ts", "_lived", "_in_regime")
    )
