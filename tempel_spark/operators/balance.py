"""Deterministic sampling & dataset balancing (SURVEY.md §2.9 R1-R4,
§2.6 O6) — the reference's random sampling/balancing made retry- and
resume-stable by replacing every `random.*` draw with hash-keyed
uniforms (functions/hashing.py). Spark re-executes partitions on task
retry, so nondeterministic sampling silently corrupts exactly-once
semantics; these never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.hashing import fingerprint64, md5_uniform

__all__ = [
    "round_robin_assign",
    "capped_round_robin_alloc",
    "weighted_reduce_to_quota",
    "shuffle_rank",
]

SEED = 42  # hash seed of the weighted race and of the group shuffle rank


def round_robin_assign(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    n_buckets: int,
) -> DataFrame:
    """O6: distribute each group's rows 0,1,2,…,0,1,2 across buckets
    (column ``bucket``)
    (reference round-robin quota allocation, s03_utils:160-169) —
    window arithmetic, parallel across groups."""
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return df.withColumn("bucket", F.pmod(F.row_number().over(w) - 1, F.lit(n_buckets)))


def capped_round_robin_alloc(
    df: DataFrame,
    group_cols: list[str],
    cap_col: str,
    quota_col: str,
    order_col: str,
    alloc_col: str = "alloc",
) -> DataFrame:
    """O6 exact: distribute a per-group quota Q across rows one unit at
    a time in row order, each row bounded by its capacity — the
    reference's sequential round-robin mention allocator
    (s03_final_dataset_creator_utils.py:160-169,355-368), which visits
    rows sorted by nr_links ascending (s03:297-299) and stops mid-pass
    when the quota is reached.

    Re-expressed as closed-form water-filling, which is bit-identical
    to that loop: after t full passes every row holds min(cap, t), so
    the loop's fixed point is the max level t* with
    Σ min(cap_j, t*) ≤ Q, and the final partial pass hands +1 to the
    first (Q − Σ min(cap_j, t*)) rows *in visit order* among those
    with cap > t*. One window partitioning (= one shuffle), no
    per-group Python, no iteration — and the same math runs in ANSI
    SQL for the DuckDB oracle (q_dataset_alloc).

    Rows are visited by (cap asc, order_col) — the reference's order
    with a deterministic tiebreak (its own ties fall back to pandas
    insertion order downstream of an unseeded shuffle, README.md:126-128;
    we must be reproducible).
    """
    g = [F.col(c) for c in group_cols]
    w_ord = Window.partitionBy(*g).orderBy(F.col(cap_col).asc(), F.col(order_col).asc())
    w_all = Window.partitionBy(*g)

    cum = F.sum(cap_col).over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rn = F.row_number().over(w_ord)
    k = F.count(F.lit(1)).over(w_all)

    d = (
        df.withColumn("_cum", cum)
        .withColumn("_rn", rn)
        .withColumn("_k", k)
        # rows BEFORE this one are full; this row's bracket is
        # [prev_cap, cap): level candidate for the remaining rows
        .withColumn("_prev_cum", F.col("_cum") - F.col(cap_col))
        .withColumn("_rem", F.col("_k") - F.col("_rn") + 1)
        .withColumn(
            "_cand",
            F.floor((F.col(quota_col) - F.col("_prev_cum")) / F.col("_rem")).cast("long"),
        )
        # clamp into the bracket from above; candidates from brackets
        # past the budget fall below automatically (see derivation in
        # tests/test_dataset_creator.py::test_alloc_matches_sequential)
        .withColumn("_cand", F.least(F.col("_cand"), F.col(cap_col).cast("long") - 1))
    )
    total_cap = F.sum(cap_col).over(w_all)
    tstar = F.greatest(
        F.max("_cand").over(w_all),
        # quota covers every cap → level = max cap (all rows full)
        F.when(F.col(quota_col) >= total_cap, F.max(cap_col).over(w_all).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        F.lit(0).cast("long"),
    )
    d = d.withColumn("_tstar", tstar)
    base = F.least(F.col(cap_col).cast("long"), F.col("_tstar"))
    d = d.withColumn("_base", base).withColumn(
        "_leftover",
        F.greatest(F.col(quota_col).cast("long") - F.sum("_base").over(w_all), F.lit(0).cast("long")),
    )
    # +1 remainder: first `leftover` rows in visit order with spare cap
    spare_rank = F.sum(
        F.when(F.col(cap_col) > F.col("_tstar"), F.lit(1)).otherwise(F.lit(0))
    ).over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    d = d.withColumn(
        alloc_col,
        (
            F.col("_base")
            + F.when(
                (F.col(cap_col) > F.col("_tstar")) & (spare_rank <= F.col("_leftover")), 1
            ).otherwise(0)
        ).cast("long"),
    )
    return d.drop("_cum", "_rn", "_k", "_prev_cum", "_rem", "_cand", "_tstar", "_base", "_leftover")


def weighted_reduce_to_quota(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    quota: int,
    id_col: str,
) -> DataFrame:
    """R3: per group, keep `quota` rows sampled ∝ weight — the
    reference's weighted reduction multiset sampler (s03:544-571)
    re-expressed with exponential-race weighted sampling
    (Efraimidis-Spirakis): key = u^(1/w) with u = md5_uniform, the
    engine-portable uniform a SQL oracle recomputes; top-quota keys per
    group win. Deterministic, one window."""
    u = md5_uniform(id_col, seed=SEED)
    # avoid log(0): clamp u into (0,1)
    race = F.pow(F.greatest(u, F.lit(1e-12)), 1.0 / F.greatest(F.col(weight_col), F.lit(1e-12)))
    w = Window.partitionBy(group_col).orderBy(F.desc(race), F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= quota).drop("_rn")


def shuffle_rank(df: DataFrame, group_col: str) -> DataFrame:
    """R2: the deterministic group shuffle (reference random.shuffle of
    per-entity frames, s03:301-304) MATERIALIZED — one row per distinct
    group with its position in the permutation, so the shuffle itself
    is oracle-checkable; groups-cardinality output only, so the window
    is over groups, never rows. The sort key is the engine-portable md5
    recipe (functions/hashing.fingerprint64 with md5_uniform's
    'u{seed}:' prefix convention; the oracle computes the identical
    bigint), ties by group."""
    g = df.select(group_col).distinct()
    key = fingerprint64(F.concat(F.lit(f"u{SEED}:"), F.col(group_col).cast("string")))
    w = Window.orderBy(key.asc(), F.col(group_col).asc())
    return g.select(group_col, F.row_number().over(w).alias("shuffle_rank"))
