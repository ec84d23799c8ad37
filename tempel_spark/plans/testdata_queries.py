"""Operator-coverage query suite over the driver's testdata tables.

Each entry is one operator family from SURVEY.md §2, expressed twice:
as an idiomatic Spark DataFrame plan and as the ANSI-SQL oracle DuckDB
runs on the same parquet (driver contract in __spark_entry__.py).
Column names and rounding are aligned on both sides — the driver's
compare hashes values after sorting columns by name.

Registry pattern keeps the two sides adjacent so they can't drift.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, sql: str | None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def spread(df: DataFrame) -> DataFrame:
    """Rebalance a compute-dense input whose natural parallelism is
    below the session's default parallelism.

    A small parquet table written as one row group scans as ONE task
    no matter how many cores the session has, so per-row-expensive
    derivations (shingling+md5, pairwise similarity after an
    exploding self-join) run serially while the rest of the cluster
    idles (guide §2.6: stragglers / idle capacity). The fix is a tiny
    round-robin exchange — deterministic under retry because
    sortBeforeRepartition stays on — whose cost is microscopic next
    to the compute it unblocks.

    Scale-adaptive by construction: at production scale a scan yields
    ≥ cores partitions and this is a NO-OP (no exchange is added), so
    it never re-shuffles a large table. The width comes from
    spark.default.parallelism, which session.py derives from the
    configured core count — never a hard-coded local constant.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# =====================================================================
# §2.4 aggregations / §2.2 filters — A1-A4, P1, P5
# =====================================================================

@register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4 hash aggregate with partial/final combine (SURVEY §2.4);
    predicate pushes to the parquet scan (P1/P8)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "q03_segment_revenue",
    """
    SELECT o.o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q03_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 join chain + A3 + O2/O5 deterministic top-k. Customer side
    is filtered then broadcast (small dim — the reference's
    dict-per-worker, s01:709-712)."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "q05_nation_revenue",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2/J6 multi-join with two broadcast dims (nation, region);
    the local-supplier predicate is the composite-key join J1."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
    )


@register(
    "q_multi_threshold_filter",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 4) AS sum_price
    FROM lineitem
    WHERE l_quantity >= 5 AND l_quantity <= 45
      AND l_discount >= 0.02 AND l_discount <= 0.08
      AND l_extendedprice >= 1000
      AND l_tax <= 0.07
    GROUP BY l_returnflag
    """,
)
def q_multi_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: the reference's config-driven chained range predicates
    (apply_filters, s03_final_dataset_creator_utils.py:518-608) —
    Catalyst folds them into one scan-level conjunction."""
    li = t(spark, sf_dir, "lineitem")
    preds = [
        F.col("l_quantity") >= 5, F.col("l_quantity") <= 45,
        F.col("l_discount") >= 0.02, F.col("l_discount") <= 0.08,
        F.col("l_extendedprice") >= 1000, F.col("l_tax") <= 0.07,
    ]
    out = li
    for p in preds:
        out = out.filter(p)
    return out.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
    )


@register(
    "q_value_clip",
    """
    SELECT l_returnflag,
           round(sum(least(greatest(l_quantity, 5), 40)), 4) AS sum_clipped
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_value_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: value clipping (reference `.loc[col > max] = max` caps,
    s03:498-501) as least/greatest."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.least(F.greatest(F.col("l_quantity"), F.lit(5.0)), F.lit(40.0))), 4).alias("sum_clipped")
    )


@register(
    "q_global_scalar_agg",
    """
    SELECT count(*) AS n_rows,
           round(sum(o_totalprice), 4) AS total,
           round(avg(o_totalprice), 6) AS mean,
           count(DISTINCT o_custkey) AS n_custs
    FROM orders
    """,
)
def q_global_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: global scalar aggregate (reference nr_all_inlinks, s02:503)."""
    o = t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
        F.round(F.avg("o_totalprice"), 6).alias("mean"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


# =====================================================================
# §2.5 windows — W1-W4, O3, O4
# =====================================================================

@register(
    "q_dense_rank",
    """
    SELECT o_custkey, o_orderkey,
           dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank
    FROM orders
    """,
)
def q_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2: the alias table's dense prior ranks (s02:434-440)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return o.select("o_custkey", "o_orderkey", F.dense_rank().over(w).alias("price_rank"))


@register(
    "q_cumsum",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
    FROM events
    """,
)
def q_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: running cumulative sum (reference groupby().cumsum(),
    s04_final_dataset_statistics_utils.py:276-279)."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select("user_id", "event_id", F.round(F.sum("value").over(w), 4).alias("running_value"))


@register(
    "q_topk_per_group",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: top-k per group — the FAISS top-64 shape (nn_prediction.py:76)
    as a rank-filter; deterministic tie-break on the key."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register(
    "q_asof_latest",
    """
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE ts <= timestamp '2024-06-01 00:00:00') WHERE rn = 1
    """,
)
def q_asof_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 core: as-of latest row ≤ cut per key (the snapshot fold,
    wikipedia_history_reader.py:233-299, without the stability demotion
    which q_asof_stable covers on the library side)."""
    e = t(spark, sf_dir, "events").filter(F.col("ts") <= F.lit("2024-06-01 00:00:00").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.select("user_id", "event_id", "ts", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_first_match_rank",
    """
    SELECT user_id, min(CASE WHEN event_type = 'click' THEN rn END) AS first_click_rank
    FROM (SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events)
    GROUP BY user_id
    """,
)
def q_first_match_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4: index of first correct candidate (nn_prediction.py:113-121)."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "click", F.col("rn"))).alias("first_click_rank"))
    )


@register(
    "q_share_window",
    """
    SELECT o_orderkey, o_custkey,
           round(o_totalprice / sum(o_totalprice) OVER (PARTITION BY o_custkey), 6) AS share
    FROM orders
    """,
)
def q_share_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/A10 fused: self-enrichment totals as a window, ratio-of-
    aggregates projection (reference join-back at s02:365-385 —
    rewritten shuffle-free)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    return o.select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") / F.sum("o_totalprice").over(w), 6).alias("share"),
    )


# =====================================================================
# §2.3 joins / §2.7 set ops — J5, P6, U1-U5
# =====================================================================

@register(
    "q_anti_join",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c ANTI JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/U3: anti-join set exclusion (reference set-membership drops,
    s03:277-280)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "q_semi_join",
    """
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c SEMI JOIN orders o ON c.c_custkey = o.o_custkey
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 membership as left-semi (EXISTS)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_acctbal")


@register(
    "q_intersection_across_groups",
    """
    SELECT user_id, count(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    HAVING count(DISTINCT event_type) = (SELECT count(DISTINCT event_type) FROM events)
    """,
)
def q_intersection_across_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/U2 rewrite: 'common across all N cuts' via one countDistinct
    aggregate instead of the reference's 10 chained inner joins
    (s03:219-224) — one shuffle, not ten."""
    e = t(spark, sf_dir, "events")
    total = e.select(F.countDistinct("event_type").alias("_total"))
    return (
        e.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_types"))
        .join(F.broadcast(total), F.col("n_types") == F.col("_total"))
        .drop("_total")
    )


@register(
    "q_union_distinct",
    """
    SELECT n_nationkey FROM (
      SELECT c_nationkey AS n_nationkey FROM customer
      UNION
      SELECT s_nationkey AS n_nationkey FROM supplier)
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U4/U5: union + distinct over id spaces (s03:1072-1086)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n_nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n_nationkey"))
    return c.unionByName(s).distinct()


@register(
    "q_dedup_then_join",
    """
    SELECT d.o_custkey, c.c_name, d.o_orderdate
    FROM (SELECT o_custkey, min(o_orderdate) AS o_orderdate FROM orders GROUP BY o_custkey) d
    JOIN customer c ON d.o_custkey = c.c_custkey
    """,
)
def q_dedup_then_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: dedup-then-join (s02:329-332) — expressed as min-per-key +
    broadcast join."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    d = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("o_orderdate"))
    return d.join(c, d.o_custkey == c.c_custkey).select("o_custkey", "c_name", "o_orderdate")


# =====================================================================
# §2.8 scalars — dates, pivot, distribution
# =====================================================================

@register(
    "q_date_buckets",
    """
    SELECT year(o_orderdate) AS order_year, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total
    FROM orders GROUP BY year(o_orderdate), o_orderpriority
    """,
)
def q_date_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/F10/P7: timestamp parts + date-range grouping (s03:469-470)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("order_year"), "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("total"))
    )


@register(
    "q_pivot",
    """
    SELECT o_orderpriority,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_o,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_f,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: pivot (reference acc@64 train-year × test-year matrices,
    s08_all_paper_stats.py:249-516). Explicit value list keeps the
    schema static (no extra pass to discover columns)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@register(
    "q_distribution_cumsum",
    """
    SELECT n_orders, n_customers,
           CAST(sum(n_customers) OVER (ORDER BY n_orders
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_customers
    FROM (SELECT n_orders, count(*) AS n_customers
          FROM (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
          GROUP BY n_orders)
    """,
)
def q_distribution_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: entities-per-#mentions distribution + running cumsum
    (s04_final_dataset_statistics_utils.py:260-288)."""
    o = t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    dist = per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))
    w = Window.orderBy("n_orders").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return dist.select("n_orders", "n_customers", F.sum("n_customers").over(w).alias("cum_customers"))


@register(
    "q_min_across_groups",
    """
    SELECT user_id, min(n) AS min_per_type FROM (
      SELECT user_id, event_type, count(*) AS n FROM events GROUP BY user_id, event_type)
    GROUP BY user_id
    """,
)
def q_min_across_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: min across per-cut counts (s03:332-334)."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id").agg(F.min("n").alias("min_per_type"))
    )


# text / vector / dedup suite registers itself into QUERIES/ORACLES
from tempel_spark.plans import testdata_queries_text  # noqa: E402,F401
from tempel_spark.plans import testdata_queries_er  # noqa: E402,F401
from tempel_spark.plans import testdata_queries_dedup  # noqa: E402,F401
from tempel_spark.plans import testdata_queries_misc  # noqa: E402,F401
from tempel_spark.plans import testdata_queries_dataset  # noqa: E402,F401
from tempel_spark.plans import testdata_queries_linkage  # noqa: E402,F401

# ---------------------------------------------------------------------
# Driver-window rotation.  The per-round correctness driver adjudicates
# only the FIRST 50 registry entries.  Round-4 policy (VERDICT r3, Next
# #3): order by staleness of the last driver adjudication relative to
# code churn —
#   tier 0: never driver-checked (new registrations this round),
#   tier 1: driver-checked before their implementation (or a shared
#           operator: clustering.py CC endgame, topk.py adaptive
#           probe, dedup.py simhash64_agg) last changed,
#   tier 2: r2-checked, implementation unchanged since,
#   tier 3: r3-checked, implementation unchanged since (back of line —
#           still pinned locally by tests/test_synth_and_oracle.py).
# Tiers 0+1+2 total ≤ 50, so every query whose code moved after its
# last driver row gets re-adjudicated in round 4.
# ---------------------------------------------------------------------
_DRIVER_CHECKED_R1_R2 = frozenset({
    "q01_pricing_summary", "q03_segment_revenue", "q05_nation_revenue",
    "q_multi_threshold_filter", "q_value_clip", "q_global_scalar_agg",
    "q_dense_rank", "q_cumsum", "q_topk_per_group", "q_asof_latest",
    "q_first_match_rank", "q_share_window", "q_anti_join", "q_semi_join",
    "q_intersection_across_groups", "q_union_distinct", "q_dedup_then_join",
    "q_date_buckets", "q_pivot", "q_distribution_cumsum",
    "q_min_across_groups", "q_normalize_text", "q_levenshtein",
    "q_word_count", "q_token_count_regex", "q_extract_tokens",
    "q_regex_filter", "q_jaccard_pairs", "q_dedup_exact",
    "q_dedup_prefix_key", "q_minhash_signature", "q_lsh_block_sizes",
    "q_fingerprint", "q_quality_score", "q_lang_id_heuristic",
    "q_cosine_topk", "q_dot_product_scores", "q_embedding_dedup",
    "q_acc_at_k", "q_deterministic_sample", "q_round_robin",
    "q_alias_table", "q_er_match_pairs", "q_er_components",
    "q_overlap_type", "q_asof_stable", "q_simhash", "q_ngram_dedup_pairs",
    "q_ivf_buckets", "q_ivf_topk",
})


# The 50 queries adjudicated green in CORRECTNESS_r03.json.
_DRIVER_CHECKED_R3 = frozenset({
    "q_weighted_quota", "q_positional_join", "q_except", "q_context_window",
    "q_drift_stats", "q_ivf_multiprobe", "q_simhash_agg", "q_redirect_detect",
    "q_whole_word_contains", "q_mention_extract_wiki", "q_pairwise_f1",
    "q_array_truncate", "q_time_window_agg", "q_rollup", "q_er_scored_pairs",
    "q_sessionize", "q_keyword_typing", "q_nunique_per_target",
    "q_salted_hot_blocks", "q_temporal_flux", "q_clean_wikitext",
    "q_sql_dump_page_props", "q_sql_dump_redirect", "q_paper_stats_matrix",
    "q_candidate_similarity", "q_sentence_chunks", "q_detokenize",
    "q_wordpiece", "q_temporal_offset_delta", "q_length_bucket_acc",
    "q_sorted_neighborhood", "q_percentiles", "q_dataset_subsets",
    "q_dataset_quota", "q_dataset_balance", "q_dataset_new_balance",
    "q_title_scd", "q_redirect_chains", "q_dataset_alloc",
    "q01_pricing_summary", "q03_segment_revenue", "q05_nation_revenue",
    "q_multi_threshold_filter", "q_value_clip", "q_global_scalar_agg",
    "q_dense_rank", "q_cumsum", "q_topk_per_group", "q_asof_latest",
    "q_first_match_rank",
})

# The 50 queries adjudicated green in CORRECTNESS_r04.json.
_DRIVER_CHECKED_R4 = frozenset({
    "q_acc_at_k", "q_alias_table", "q_anti_join", "q_asof_stable",
    "q_bm25_mrr", "q_bm25_passages", "q_bm25_topk", "q_clean_wikitext",
    "q_cluster_evolution", "q_cosine_topk", "q_dataset_subsets",
    "q_date_buckets", "q_dedup_exact", "q_dedup_prefix_key",
    "q_dedup_then_join", "q_distribution_cumsum", "q_dot_product_scores",
    "q_embedding_dedup", "q_er_components", "q_er_match_pairs",
    "q_excise_boilerplate", "q_extract_tokens", "q_fingerprint",
    "q_intersection_across_groups", "q_ivf_adaptive_probe", "q_ivf_buckets",
    "q_ivf_multiprobe", "q_ivf_topk", "q_jaccard_pairs",
    "q_lang_id_heuristic", "q_levenshtein", "q_lsh_block_sizes",
    "q_min_across_groups", "q_minhash_signature", "q_normalize_text",
    "q_pivot", "q_quality_score", "q_regex_filter", "q_repeated_passages",
    "q_semi_join", "q_share_window", "q_simhash", "q_sorted_neighborhood",
    "q_strict_majority_vote", "q_temporal_flux", "q_tfidf_keywords",
    "q_token_count_regex", "q_unigram_logprob", "q_union_distinct",
    "q_word_count",
})

# Queries whose implementation (or a shared operator) changed AFTER
# their last driver adjudication — round-5 churn:
#  - retrieval.py qtf weighting (+ repeated-term query in the
#    q_bm25_topk fixture): q_bm25_topk, q_bm25_passages, q_bm25_mrr
#    (also metrics.py MRR query-universe param);
#  - clustering.py cluster_evolution attribution columns:
#    q_cluster_evolution;
#  - metrics.py strict_majority rounded-tie compare:
#    q_strict_majority_vote;
#  - blocking.py adaptive prefix deepening + offset-broadcast bound:
#    q_sorted_neighborhood;
#  - wikitemplates.py round-5 unit tranche (torque, fuel economy,
#    TNT, barrels) + extended fixture: q_clean_wikitext.
#  - metrics.py pairwise_f1 join-key hardening (shared group cols —
#    behavior-neutral for every current caller, re-adjudicate anyway):
#    q_pairwise_f1.
_CHANGED_SINCE_ADJUDICATION = frozenset({
    "q_bm25_topk", "q_bm25_passages", "q_bm25_mrr",
    "q_cluster_evolution", "q_strict_majority_vote",
    "q_sorted_neighborhood", "q_clean_wikitext", "q_pairwise_f1",
})


def _rotate_driver_window() -> None:
    # Standing policy (VERDICT r3 Next #3, r4 Next #2): the driver
    # adjudicates the FIRST 50 registry entries; order by staleness of
    # the latest driver row relative to code churn. Tiers 0-3 total
    # well under 50, so after round 5 no query's latest row predates
    # round 3, and everything that changed this round re-adjudicates.
    def tier(n: str) -> int:
        seen = (
            _DRIVER_CHECKED_R1_R2 | _DRIVER_CHECKED_R3 | _DRIVER_CHECKED_R4
        )
        if n not in seen:
            return 0  # never driver-checked (new this round)
        if n in _CHANGED_SINCE_ADJUDICATION:
            return 1  # stale adjudication: code moved after last row
        if n not in _DRIVER_CHECKED_R3 and n not in _DRIVER_CHECKED_R4:
            return 2  # r2-only row, unchanged code
        if n not in _DRIVER_CHECKED_R4:
            return 3  # r3 row, unchanged code
        return 4      # r4 green, unchanged code (back of line)

    ordered = sorted(QUERIES, key=lambda n: tier(n))  # stable within tier
    for d in (QUERIES, ORACLES):
        snapshot = dict(d)
        d.clear()
        d.update({n: snapshot[n] for n in ordered if n in snapshot})


_rotate_driver_window()
