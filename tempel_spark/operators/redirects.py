"""Transitive redirect resolution (reference: redirect dicts walked
page→redirect→target in misc/load_wiki_sql_tables.py:136-213, applied
at s01:421 / s02_redirect_detector.py:46-134 / s03_utils:595-596).

The reference resolves one hop at a time through an in-memory dict;
declaratively this is pointer jumping: keep a map src→cur and square
it (cur := map[cur] when cur is itself a redirect source) until
nothing changes — O(log max_chain) self-joins for ANY chain length,
the same doubling trick as the CC star operators. Cycle-safe: a
bounded iteration count plus a terminal check; sources still sitting
on a redirect after convergence are cycle members and resolve to
NULL (the reference simply skips such pages).

Scale: the redirect table is dimension-sized (≈10^7 rows for enwiki);
each round is one equi-join on the current target. localCheckpoint
per round truncates the doubling lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["resolve_redirects", "strip_redirected"]


def resolve_redirects(redirects: DataFrame, max_hops: int = 64) -> DataFrame:
    """redirects: one row per redirect page (src → dst). Returns
    (src, resolved, n_hops, is_cycle): `resolved` is the first
    non-redirect target reached (NULL when the chain is a cycle or
    exceeds max_hops); n_hops counts edges walked.

    Duplicate sources are invalid input (a page has one redirect
    target) and raise rather than silently picking one.
    """
    base = redirects.select("src", "dst")
    n_all = base.count()
    n_src = base.select("src").distinct().count()
    if n_all != n_src:
        raise ValueError(f"duplicate redirect sources: {n_all} rows, {n_src} distinct src")

    # state: src -> (cur, hops); POINTER DOUBLING — each round jumps
    # through the state itself (cur := state[cur]), so a chain of
    # length L resolves in ceil(log2 L) rounds. Fixed round count, no
    # driver-side convergence actions in the loop; cycle members just
    # keep accumulating hops past max_hops and are flagged after.
    state = base.select("src", F.col("dst").alias("cur"), F.lit(1).cast("long").alias("hops"))
    state = state.localCheckpoint(eager=True)
    rounds = max(1, (max_hops - 1).bit_length())
    for _ in range(rounds):
        jump = state.select(
            F.col("src").alias("cur"), F.col("cur").alias("_next"), F.col("hops").alias("_h2")
        )
        state = (
            state.join(jump, "cur", "left")
            .select(
                "src",
                F.coalesce("_next", "cur").alias("cur"),
                (F.col("hops") + F.coalesce("_h2", F.lit(0))).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )

    # terminal check: cur still a redirect source ⇒ cycle/overflow
    still = base.select(F.col("src").alias("cur"), F.lit(True).alias("_is_src"))
    out = state.join(still, "cur", "left").select(
        "src",
        F.when(F.col("_is_src").isNotNull() | (F.col("hops") > max_hops), F.lit(None))
        .otherwise(F.col("cur"))
        .alias("resolved"),
        "hops",
        (F.col("_is_src").isNotNull() | (F.col("hops") > max_hops)).alias("is_cycle"),
    )
    return out.withColumnRenamed("hops", "n_hops")


def strip_redirected(df: DataFrame, redirects: DataFrame, id_col: str) -> DataFrame:
    """P6/U3: drop rows whose id is a redirect source — the
    reference's 'target qids with redirects in history' exclusion
    (s03_utils:595-596) as a left-anti join."""
    keys = redirects.select(F.col("src").alias(id_col)).distinct()
    return df.join(keys, id_col, "left_anti")
