"""Dataset-assembly (s03) stage queries with DuckDB oracles.

Each stage of plans/dataset_creator.py is driven over an alias-stats
table derived deterministically from `orders`
(entity = o_custkey % 100, cut = year(o_orderdate),
surface = o_orderpriority, nr_links = count) and value-matched
against an independent ANSI-SQL re-implementation:

  q_dataset_subsets — leakage-safe subset assignment (singleton
      clusters here: the CC-with-edges path is pinned by
      tests/test_dataset_creator.py; with no must-link edges every
      surface is its own cluster, which the oracle can express)
  q_dataset_quota   — capped per-(entity,cut,subset) quotas + the
      per-subset min-across-cuts target (V3 step 1)
  q_dataset_balance — the full weighted unit reduction; totals per
      (subset, cut) land EXACTLY on the target (V3 step 2,
      reference assert s03:580-604)
  q_dataset_alloc   — closed-form capped round-robin allocation
      (O6, s03_utils:160-169) re-derived in SQL window math
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempel_spark.plans.testdata_queries import register, t

_N_SUBSETS = 3
_SUBS = ("train", "validation", "test")
_CAP = 30  # max_mentions_per_entity for the quota queries

# --- shared SQL fragments (DuckDB) -----------------------------------

_STATS = """
  stats AS (
    SELECT o_custkey % 100 AS entity_id, year(o_orderdate) AS snapshot_ts,
           o_orderpriority AS surface, count(*) AS nr_links
    FROM orders GROUP BY 1, 2, 3),
  common AS (
    SELECT * FROM stats WHERE entity_id IN (
      SELECT entity_id FROM stats GROUP BY entity_id
      HAVING count(DISTINCT snapshot_ts) = (SELECT count(DISTINCT snapshot_ts) FROM stats))),
  cw AS (SELECT entity_id, surface, sum(nr_links) AS w FROM common GROUP BY 1, 2),
  assign AS (
    SELECT entity_id, surface,
           (['train','validation','test'])[
             ((dense_rank() OVER (PARTITION BY entity_id ORDER BY w DESC, surface) - 1) % 3) + 1
           ] AS subset
    FROM cw),
  labeled AS (
    SELECT c.entity_id, c.snapshot_ts, c.surface, c.nr_links, a.subset
    FROM common c JOIN assign a USING (entity_id, surface)),
  cov AS (
    SELECT entity_id FROM (
      SELECT entity_id, snapshot_ts, count(DISTINCT subset) AS ns
      FROM labeled GROUP BY 1, 2)
    GROUP BY entity_id HAVING min(ns) = 3),
  covered AS (SELECT * FROM labeled WHERE entity_id IN (SELECT entity_id FROM cov)),
  n0 AS (
    SELECT entity_id, snapshot_ts, subset, least(sum(nr_links), {cap}) AS n
    FROM covered GROUP BY 1, 2, 3)
""".strip()

_QUOTA_TAIL = """
  d AS (
    SELECT *,
           n - min(n) OVER (PARTITION BY entity_id, subset) AS diff,
           sum(n) OVER (PARTITION BY subset, snapshot_ts) AS total
    FROM n0),
  tgt AS (SELECT subset, min(total) AS target FROM (
            SELECT DISTINCT subset, snapshot_ts, total FROM d) GROUP BY subset),
  d2 AS (SELECT d.*, tgt.target, d.total - tgt.target AS reduce FROM d JOIN tgt USING (subset))
""".strip()

_UNITS_TAIL = """
  units AS (
    SELECT entity_id, snapshot_ts, subset, reduce, u.unit,
           ('0x' || substr(md5('u42:' || entity_id::VARCHAR || ':' || snapshot_ts::VARCHAR
                                || ':' || subset || ':' || u.unit::VARCHAR), 1, 15))::BIGINT
             / 1152921504606846976.0 AS race
    FROM d2, unnest(range(1, CAST(diff + 1 AS BIGINT))) AS u(unit)
    WHERE diff > 0),
  dropped AS (
    SELECT entity_id, snapshot_ts, subset, count(*) AS removed FROM (
      SELECT *, row_number() OVER (PARTITION BY subset, snapshot_ts
                                   ORDER BY race, entity_id::VARCHAR, unit) AS urn
      FROM units)
    WHERE urn <= reduce GROUP BY 1, 2, 3)
""".strip()


def _spark_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    return o.groupBy(
        (F.col("o_custkey") % 100).alias("entity_id"),
        F.year("o_orderdate").alias("snapshot_ts"),
        F.col("o_orderpriority").alias("surface"),
    ).agg(F.count(F.lit(1)).alias("nr_links"))


@register(
    "q_dataset_subsets",
    f"""
    WITH {_STATS.format(cap=_CAP)}
    SELECT subset, count(*) AS n_rows, CAST(sum(nr_links) AS BIGINT) AS n_links
    FROM labeled GROUP BY subset
    """,
)
def q_dataset_subsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe subset assignment (dataset_creator stage 3) with
    singleton clusters — oracle-expressible CC degenerate case; the
    edge path is pytest-pinned."""
    from tempel_spark.plans.dataset_creator import (
        assign_subsets_leakage_safe,
        entities_in_all_snapshots,
    )

    stats = entities_in_all_snapshots(_spark_stats(spark, sf_dir))
    assigned = assign_subsets_leakage_safe(
        stats, subsets=_SUBS, must_link_ratio=0.0, containment_links=False
    )
    return assigned.groupBy("subset").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("nr_links").alias("n_links")
    )


@register(
    "q_dataset_quota",
    f"""
    WITH {_STATS.format(cap=_CAP)},
    {_QUOTA_TAIL}
    SELECT subset, snapshot_ts, CAST(total AS BIGINT) AS total,
           CAST(target AS BIGINT) AS target
    FROM (SELECT DISTINCT subset, snapshot_ts, total, target FROM d2)
    """,
)
def q_dataset_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 step 1: capped per-(entity,cut,subset) totals and the
    per-subset min-across-cuts target (s03:491-540)."""
    from tempel_spark.plans.dataset_creator import (
        assign_subsets_leakage_safe,
        entities_in_all_snapshots,
        keep_fully_covered,
    )
    from pyspark.sql import Window

    stats = entities_in_all_snapshots(_spark_stats(spark, sf_dir))
    assigned = assign_subsets_leakage_safe(
        stats, subsets=_SUBS, must_link_ratio=0.0, containment_links=False
    )
    covered = keep_fully_covered(assigned, n_subsets=_N_SUBSETS)
    n0 = covered.groupBy("entity_id", "snapshot_ts", "subset").agg(
        F.least(F.sum("nr_links"), F.lit(_CAP)).alias("n")
    )
    totals = n0.groupBy("subset", "snapshot_ts").agg(F.sum("n").alias("total"))
    w = Window.partitionBy("subset")
    return totals.select(
        "subset",
        "snapshot_ts",
        F.col("total").cast("long").alias("total"),
        F.min("total").over(w).cast("long").alias("target"),
    )


@register(
    "q_dataset_balance",
    f"""
    WITH {_STATS.format(cap=_CAP)},
    {_QUOTA_TAIL},
    {_UNITS_TAIL}
    SELECT subset, snapshot_ts,
           CAST(sum(n - COALESCE(removed, 0)) AS BIGINT) AS total_quota
    FROM d2 LEFT JOIN dropped USING (entity_id, snapshot_ts, subset)
    GROUP BY 1, 2
    """,
)
def q_dataset_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline s03 invariant, oracle-checked end-to-end: after
    the deterministic weighted unit reduction, every cut's per-subset
    total equals the subset target (reference assert s03:580-604)."""
    from tempel_spark.plans.dataset_creator import (
        assign_subsets_leakage_safe,
        balanced_quotas,
        entities_in_all_snapshots,
        keep_fully_covered,
    )

    stats = entities_in_all_snapshots(_spark_stats(spark, sf_dir))
    assigned = assign_subsets_leakage_safe(
        stats, subsets=_SUBS, must_link_ratio=0.0, containment_links=False
    )
    covered = keep_fully_covered(assigned, n_subsets=_N_SUBSETS)
    quotas = balanced_quotas(covered, max_mentions_per_entity=_CAP)
    return quotas.groupBy("subset", "snapshot_ts").agg(
        F.sum("quota").cast("long").alias("total_quota")
    )


_NEW_STATS = """
  nstats AS (
    SELECT o_custkey AS entity_id, 1995 + (o_custkey % 3) AS snapshot_ts,
           o_orderpriority AS surface, count(*) AS nr_links
    FROM orders GROUP BY 1, 2, 3),
  ncw AS (SELECT entity_id, surface, sum(nr_links) AS w FROM nstats GROUP BY 1, 2),
  nassign AS (
    SELECT entity_id, surface,
           (['train','validation','test'])[
             ((dense_rank() OVER (PARTITION BY entity_id ORDER BY w DESC, surface) - 1) % 3) + 1
           ] AS subset
    FROM ncw),
  nlabeled AS (
    SELECT s.entity_id, s.snapshot_ts, s.surface, s.nr_links, a.subset
    FROM nstats s JOIN nassign a USING (entity_id, surface)),
  ncov AS (
    SELECT entity_id FROM (
      SELECT entity_id, count(DISTINCT subset) AS ns FROM nlabeled GROUP BY 1)
    WHERE ns = 3),
  ncovered AS (SELECT * FROM nlabeled WHERE entity_id IN (SELECT entity_id FROM ncov)),
  eq AS (
    SELECT snapshot_ts, entity_id FROM (
      SELECT snapshot_ts, entity_id,
             row_number() OVER (
               PARTITION BY snapshot_ts
               ORDER BY ('0x' || substr(md5('u45:' || entity_id::VARCHAR), 1, 15))::BIGINT
                          / 1152921504606846976.0,
                        entity_id) AS rn
      FROM (SELECT DISTINCT snapshot_ts, entity_id FROM ncovered))
    WHERE rn <= (SELECT min(c) FROM (
       SELECT count(DISTINCT entity_id) AS c FROM ncovered GROUP BY snapshot_ts))),
  nequal AS (SELECT n.* FROM ncovered n JOIN eq USING (snapshot_ts, entity_id)),
  nn0 AS (
    SELECT entity_id, snapshot_ts, subset, least(sum(nr_links), {cap}) AS n
    FROM nequal GROUP BY 1, 2, 3),
  nd AS (
    SELECT *,
           row_number() OVER (PARTITION BY subset, snapshot_ts
                              ORDER BY n DESC, entity_id::VARCHAR) AS rnk,
           sum(n) OVER (PARTITION BY subset, snapshot_ts) AS total
    FROM nn0),
  nmin AS (
    SELECT subset AS ms, snapshot_ts AS min_cut, total AS target FROM (
      SELECT subset, snapshot_ts, total,
             row_number() OVER (PARTITION BY subset
                                ORDER BY total, snapshot_ts::VARCHAR) AS mr
      FROM (SELECT DISTINCT subset, snapshot_ts, total FROM nd))
    WHERE mr = 1),
  nref AS (
    SELECT d.subset, d.rnk, d.n AS n_ref
    FROM nd d JOIN nmin m ON d.subset = m.ms AND d.snapshot_ts = m.min_cut),
  nd2 AS (
    SELECT d.*, m.min_cut, m.target, d.total - m.target AS reduce,
           CASE WHEN d.snapshot_ts = m.min_cut THEN 0
                ELSE greatest(d.n - coalesce(r.n_ref, 0), 0) END AS diff
    FROM nd d
    JOIN nmin m ON d.subset = m.ms
    LEFT JOIN nref r ON d.subset = r.subset AND d.rnk = r.rnk),
  nunits AS (
    SELECT entity_id, snapshot_ts, subset, reduce, u.unit,
           ('0x' || substr(md5('u42:new:' || entity_id::VARCHAR || ':' || snapshot_ts::VARCHAR
                                || ':' || subset || ':' || u.unit::VARCHAR), 1, 15))::BIGINT
             / 1152921504606846976.0 AS race
    FROM nd2, unnest(range(1, CAST(diff + 1 AS BIGINT))) AS u(unit)
    WHERE diff > 0),
  ndropped AS (
    SELECT entity_id, snapshot_ts, subset, count(*) AS removed FROM (
      SELECT *, row_number() OVER (PARTITION BY subset, snapshot_ts
                                   ORDER BY race, entity_id::VARCHAR, unit) AS urn
      FROM nunits)
    WHERE urn <= reduce GROUP BY 1, 2, 3)
""".strip()


@register(
    "q_dataset_new_balance",
    f"""
    WITH {_NEW_STATS.format(cap=25)}
    SELECT subset, snapshot_ts,
           CAST(sum(CASE WHEN n - COALESCE(removed, 0) > 0
                         THEN n - COALESCE(removed, 0) END) AS BIGINT) AS total_quota,
           count(CASE WHEN n - COALESCE(removed, 0) > 0 THEN 1 END) AS n_entities
    FROM nd2 LEFT JOIN ndropped USING (entity_id, snapshot_ts, subset)
    GROUP BY 1, 2
    """,
)
def q_dataset_new_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NEW-entities category balancing (s03:616-1036) oracle-
    checked: birth cut synthesized as 1995 + custkey % 3 (the birth-
    cut ASSIGNMENT from created_ts is pytest-covered; the SQL checks
    the equalization + positional reduction math), entity counts
    equalized per cut by portable md5 rank, per-subset totals reduced
    to the subset's min cut via rank-paired weighted unit races."""
    from tempel_spark.plans.dataset_creator import (
        assign_subsets_leakage_safe,
        balanced_quotas_positional,
        equalize_entity_counts,
        keep_fully_covered,
    )

    o = t(spark, sf_dir, "orders")
    stats = o.groupBy(
        F.col("o_custkey").alias("entity_id"),
        (F.lit(1995) + F.col("o_custkey") % 3).alias("snapshot_ts"),
        F.col("o_orderpriority").alias("surface"),
    ).agg(F.count(F.lit(1)).alias("nr_links"))
    assigned = assign_subsets_leakage_safe(
        stats, subsets=_SUBS, must_link_ratio=0.0, containment_links=False
    )
    covered = keep_fully_covered(assigned, n_subsets=_N_SUBSETS)
    equalized = equalize_entity_counts(covered, portable_hash=True)
    quotas = balanced_quotas_positional(equalized, max_mentions_per_entity=25)
    return quotas.groupBy("subset", "snapshot_ts").agg(
        F.sum("quota").cast("long").alias("total_quota"),
        F.count(F.lit(1)).alias("n_entities"),
    )


@register(
    "q_title_scd",
    """
    WITH changes AS (
      SELECT o_orderpriority AS title, o_orderdate AS valid_from,
             max(o_custkey) AS page_id
      FROM orders WHERE o_orderkey % 10 = 0
      GROUP BY 1, 2),
    probes AS (
      SELECT o_orderkey, o_orderpriority AS title, o_orderdate AS ts
      FROM orders WHERE o_orderkey % 10 = 5)
    SELECT p.o_orderkey, p.title, c.page_id, c.valid_from AS asof_valid_from
    FROM probes p ASOF LEFT JOIN changes c
      ON p.title = c.title AND p.ts >= c.valid_from
    """,
)
def q_title_scd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Title-change SCD as-of join (reference joins alias stats to
    title_changes on (title, filtered_date), s02:275-295): for each
    probe, the page holding the title as of the probe date — the
    union-merge as-of join vs DuckDB's native ASOF JOIN."""
    from tempel_spark.operators.scd import asof_join

    o = t(spark, sf_dir, "orders")
    changes = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .groupBy(F.col("o_orderpriority").alias("title"), F.col("o_orderdate").alias("valid_from"))
        .agg(F.max("o_custkey").alias("page_id"))
    )
    probes = o.filter(F.col("o_orderkey") % 10 == 5).select(
        "o_orderkey", F.col("o_orderpriority").alias("title"), F.col("o_orderdate").alias("ts")
    )
    out = asof_join(probes, changes, key="title", probe_ts="ts")
    return out.select("o_orderkey", "title", "page_id", "asof_valid_from")


@register(
    "q_redirect_chains",
    """
    WITH RECURSIVE r AS (
      SELECT c_custkey AS src, c_custkey - 1 AS dst FROM customer WHERE c_custkey % 4 <> 0),
    walk(src, cur, hops) AS (
      SELECT src, dst, 1 FROM r
      UNION ALL
      SELECT w.src, r.dst, w.hops + 1 FROM walk w JOIN r ON w.cur = r.src WHERE w.hops < 20)
    SELECT src, cur AS resolved, CAST(hops AS BIGINT) AS n_hops FROM (
      SELECT *, row_number() OVER (PARTITION BY src ORDER BY hops DESC) AS rn FROM walk)
    WHERE rn = 1
    """,
)
def q_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive redirect resolution (reference follows
    page→redirect→target dict chains, load_wiki_sql_tables.py:136-213,
    s02_redirect_detector.py:46-134): pointer-doubling vs the
    oracle's recursive CTE. Chains k→k−1→…→(k − k mod 4): every
    4th key is terminal, so chain length ≤ 3."""
    from tempel_spark.operators.redirects import resolve_redirects

    c = t(spark, sf_dir, "customer")
    red = c.filter(F.col("c_custkey") % 4 != 0).select(
        F.col("c_custkey").alias("src"), (F.col("c_custkey") - 1).alias("dst")
    )
    out = resolve_redirects(red, max_hops=20)
    return out.select("src", "resolved", F.col("n_hops").cast("long").alias("n_hops"))


@register(
    "q_dataset_alloc",
    """
    WITH caps AS (
      SELECT c_mktsegment AS grp, c_nationkey AS item, count(*) AS cap, 50 AS quota
      FROM customer GROUP BY 1, 2),
    d AS (
      SELECT grp, item, cap, quota,
             sum(cap) OVER w_ord - cap AS prev_cum,
             row_number() OVER w_ord AS rn,
             count(*) OVER w_all AS k,
             sum(cap) OVER w_all AS total_cap,
             max(cap) OVER w_all AS max_cap
      FROM caps
      WINDOW w_ord AS (PARTITION BY grp ORDER BY cap, item
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_all AS (PARTITION BY grp)),
    d2 AS (SELECT *, least(CAST(floor((quota - prev_cum) / (k - rn + 1)) AS BIGINT),
                           cap - 1) AS cand FROM d),
    d3 AS (SELECT *, greatest(max(cand) OVER (PARTITION BY grp),
                              CASE WHEN quota >= total_cap THEN max_cap ELSE 0 END,
                              0) AS tstar FROM d2),
    d4 AS (SELECT *, least(cap, tstar) AS base FROM d3),
    d5 AS (SELECT *,
             greatest(quota - sum(base) OVER (PARTITION BY grp), 0) AS leftover,
             sum(CASE WHEN cap > tstar THEN 1 ELSE 0 END)
               OVER (PARTITION BY grp ORDER BY cap, item
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS spare_rank
           FROM d4)
    SELECT grp, item,
           CAST(base + CASE WHEN cap > tstar AND spare_rank <= leftover
                            THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM d5
    """,
)
def q_dataset_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 closed form: capped round-robin allocation of a quota of 50
    across each market segment's nation buckets — the same window
    math derived independently in the oracle SQL."""
    from tempel_spark.operators.balance import capped_round_robin_alloc

    c = t(spark, sf_dir, "customer")
    caps = c.groupBy(
        F.col("c_mktsegment").alias("grp"), F.col("c_nationkey").alias("item")
    ).agg(F.count(F.lit(1)).alias("cap")).withColumn("quota", F.lit(50))
    out = capped_round_robin_alloc(
        caps, group_cols=["grp"], cap_col="cap", quota_col="quota", order_col="item"
    )
    return out.select("grp", "item", F.col("alloc").cast("long").alias("alloc"))
