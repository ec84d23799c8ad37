"""ER-pipeline parity queries: the alias-table DAG, the flagship
blocking→scoring→clustering flow (connected components oracle-checked
via a recursive CTE), overlap-type classification, and the as-of
stable-version temporal operator — the reference's distinctive
operators, each with a full DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import overlap_type
from tempel_spark.operators.alias_table import build_alias_table
from tempel_spark.operators.asof import asof_stable_version
from tempel_spark.plans import flagship
from tempel_spark.plans.testdata_queries import register, t
from tempel_spark.plans.testdata_queries_text import _NORM


@register(
    "q_alias_table",
    f"""
    WITH links AS (
      SELECT year(ts) AS snapshot_ts,
             {_NORM.format(col="event_type")} AS mention_norm,
             user_id % 20 AS entity_id
      FROM events),
    g AS (
      SELECT snapshot_ts, mention_norm, entity_id, count(*) AS nr_links
      FROM links WHERE mention_norm <> '' GROUP BY 1, 2, 3),
    w AS (
      SELECT *,
             CAST(sum(nr_links) OVER (PARTITION BY snapshot_ts, mention_norm) AS BIGINT) AS count_mentions,
             nr_links / sum(nr_links) OVER (PARTITION BY snapshot_ts, mention_norm) AS prior_raw,
             CAST(sum(nr_links) OVER (PARTITION BY snapshot_ts, entity_id) AS BIGINT) AS nr_inlinks,
             CAST(sum(nr_links) OVER (PARTITION BY snapshot_ts) AS BIGINT) AS snap_links
      FROM g),
    r AS (
      SELECT *,
             dense_rank() OVER (PARTITION BY snapshot_ts, entity_id ORDER BY prior_raw DESC) AS prior_rank,
             dense_rank() OVER (PARTITION BY snapshot_ts, mention_norm ORDER BY prior_raw DESC) AS prior_rank_men
      FROM w)
    SELECT snapshot_ts, mention_norm, entity_id, nr_links, count_mentions,
           round(prior_raw, 6) AS prior,
           prior_rank, prior_rank_men, nr_inlinks,
           round(avg(prior_raw) OVER (PARTITION BY snapshot_ts, entity_id), 6) AS avg_prior,
           round(avg(prior_rank) OVER (PARTITION BY snapshot_ts, entity_id), 6) AS avg_prior_rank,
           round(nr_inlinks / snap_links::double, 6) AS entity_prior
    FROM r
    """,
)
def q_alias_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s02 alias-table DAG (SURVEY §3.2) on events: mention =
    event_type, entity = user_id%20, snapshot = year(ts). Exercises
    A1/A3/A4/A10 + W1/W2 + the window-instead-of-join-back rewrite —
    single groupBy shuffle, windows share partitioning."""
    e = t(spark, sf_dir, "events")
    links = e.select(
        F.year("ts").alias("snapshot_ts"),
        F.col("event_type").alias("mention_text"),
        F.pmod(F.col("user_id"), F.lit(20)).alias("target_id"),
    )
    at = build_alias_table(links)
    return at.select(
        "snapshot_ts", "mention_norm", "entity_id", "nr_links", "count_mentions",
        F.round("prior", 6).alias("prior"),
        "prior_rank", "prior_rank_men", "nr_inlinks",
        F.round("avg_prior", 6).alias("avg_prior"),
        F.round("avg_prior_rank", 6).alias("avg_prior_rank"),
        F.round("entity_prior", 6).alias("entity_prior"),
    )


@register("q_er_match_pairs", flagship.ER_PAIRS_SQL)
def q_er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship stage 1-3: blocking + pair generation + Jaccard scoring
    + threshold (the north_rule's candidate-pair checkpoint table)."""
    return flagship.er_match_pairs(spark, sf_dir)


@register("q_er_components", flagship.ER_COMPONENTS_SQL)
def q_er_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship stage 4: large-star/small-star connected components —
    oracle is a recursive-CTE transitive closure, so even the
    *iterative* operator is value-checked, not just row-counted."""
    return flagship.er_components(spark, sf_dir)


@register(
    "q_overlap_type",
    """
    SELECT p_partkey,
           CASE
             WHEN m_norm = t_norm THEN 'HIGH_OVERLAP'
             WHEN m_norm = trim(regexp_replace(t_norm, '\\s*\\(.*?\\)\\s*$', '', 'g')) THEN 'MULTIPLE_CATEGORIES'
             WHEN regexp_matches(t_norm, '(^| )' || regexp_replace(m_norm, '([\\\\.\\[\\]\\{\\}\\(\\)\\*\\+\\?\\^\\$\\|])', '\\\\\\1', 'g') || '( |,|$)')
               THEN 'AMBIGUOUS_SUBSTRING'
             ELSE 'LOW_OVERLAP'
           END AS overlap_type
    FROM (SELECT p_partkey,
                 trim(regexp_replace(lower(translate(array_to_string(list_slice(string_split(p_name, ' '), 1, 2), ' '), '_', ' ')), ' +', ' ', 'g')) AS m_norm,
                 trim(regexp_replace(lower(translate(p_name, '_', ' ')), ' +', ' ', 'g')) AS t_norm
          FROM part)
    """,
)
def q_overlap_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: the overlap-type classifier (s02:50-90) — mention = first
    two words of p_name vs full p_name as the entity title."""
    p = t(spark, sf_dir, "part")
    mention = F.array_join(F.slice(F.split("p_name", " "), 1, 2), " ")
    return p.select("p_partkey", overlap_type(mention, F.col("p_name")).alias("overlap_type"))


@register(
    "q_asof_stable",
    """
    WITH cuts AS (SELECT unnest([timestamp '2024-04-01 00:00:00',
                                 timestamp '2024-08-01 00:00:00']) AS snapshot_ts),
    life AS (
      SELECT user_id, event_id, ts,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      FROM events),
    cand AS (
      SELECT l.*, c.snapshot_ts,
             epoch(l.next_ts) - epoch(l.ts) AS lived,
             l.next_ts IS NOT NULL
               AND floor((epoch(c.snapshot_ts) - epoch(l.next_ts)) / 86400) <= 7 AS in_regime,
             floor((epoch(c.snapshot_ts) - epoch(l.ts)) / 86400) > 7 AS old_at_cut
      FROM life l JOIN cuts c ON l.ts <= c.snapshot_ts),
    sec AS (
      SELECT *,
             old_at_cut
             OR (in_regime AND (lived >= 86400 OR lived > runmax))
             OR (next_ts IS NULL AND runmax > 0
                 AND (runmax <= epoch(snapshot_ts) - epoch(ts)
                      OR epoch(snapshot_ts) - epoch(ts) >= 86400)) AS stable
      FROM (SELECT *,
              coalesce(max(CASE WHEN in_regime THEN lived END) OVER (
                PARTITION BY user_id, snapshot_ts ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS runmax
            FROM cand))
    SELECT user_id, snapshot_ts, event_id, ts
    FROM (SELECT user_id, snapshot_ts, event_id, ts,
                 row_number() OVER (
                   PARTITION BY user_id, snapshot_ts
                   ORDER BY stable DESC,
                            CASE WHEN stable THEN epoch(ts) ELSE -epoch(ts) END DESC,
                            event_id DESC) AS rn
          FROM sec)
    WHERE rn = 1
    """,
)
def q_asof_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 in full: as-of snapshot selection with the reference's
    complete securing rule (wikipedia_history_reader.py:255-299):
    old-at-cut (day-floored, strict) OR successor-in-regime AND
    (lived ≥ 1 day OR lived longer than every earlier event — the
    running max_time_lapse branch as a prefix-max window)."""
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    out = asof_stable_version(
        e.withColumnRenamed("ts", "rev_ts"),
        key_cols=["user_id"],
        snapshots=["2024-04-01 00:00:00", "2024-08-01 00:00:00"],
        min_days_stable=1,
        max_look_back_days=7,
        tiebreak_cols=["event_id"],
    )
    return out.select("user_id", "snapshot_ts", "event_id", F.col("rev_ts").alias("ts"))
