"""Flagship ER query over the driver's `documents` table.

Same blocking → scoring → transitive-clustering flow as the
transcripts pipeline (plans/pipeline.py), but self-contained on the
testdata parquet so the driver's smoke (`entry`) and the DuckDB
oracle can check it end-to-end — including the iterative
connected-components stage, whose oracle is a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import set_jaccard
from tempel_spark.operators.clustering import connected_components

__all__ = ["er_match_pairs", "er_components", "er_cluster_summary"]

JACCARD_THRESHOLD = 0.6


def _docs_with_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with the blocking key and the DISTINCT token
    set, tokenized ONCE here (guide §2.3 "project before the
    exchange" / §8 "decide with small rows"): the within-block
    self-join fans each doc out into ~28 candidate pairs on this
    corpus, so tokenizing after the join would split+distinct every
    text ~56× instead of 2×."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.array_distinct(toks).alias("toks"),
        F.array_join(F.slice(toks, 1, 2), " ").alias("block_key"),
    )


def er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking (first-2-words key) + within-block pair generation +
    distinct-token-Jaccard scoring → match edges (id_a < id_b) with
    Jaccard ≥ ``JACCARD_THRESHOLD``.

    Jaccard is ``set_jaccard`` on the pre-tokenized distinct sets:
    identical doubles to token_jaccard on the raw texts. The probe
    side is `spread` so the pair scoring isn't bound to the input's
    row-group count."""
    from tempel_spark.plans.testdata_queries import spread

    d = _docs_with_key(spark, sf_dir)
    a = spread(d).select(
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"), "block_key"
    )
    b = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"), "block_key")
    return (
        a.join(b, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_j", set_jaccard("toks_a", "toks_b"))
        .filter(F.col("_j") >= JACCARD_THRESHOLD)  # threshold on the raw double in BOTH engines
        .select("id_a", "id_b", F.round("_j", 6).alias("jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def er_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive clusters over the match edges (large-star/small-star
    CC) with every document as a node (singletons keep their own id)."""
    edges = er_match_pairs(spark, sf_dir)
    nodes = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    res = connected_components(edges, nodes=nodes)
    return res.components.select(
        F.col("node").cast("long").alias("node"),
        F.col("component").cast("long").alias("component"),
    )


def er_cluster_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster rollup — the DataFrame `entry(spark)` returns."""
    comp = er_components(spark, sf_dir)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("node").alias("min_doc"), F.max("node").alias("max_doc"))
        .orderBy(F.col("n_docs").desc(), F.col("component"))
    )


# --- oracle SQL (recursive-CTE transitive closure) --------------------

ER_PAIRS_SQL = f"""
    WITH keyed AS (
      SELECT doc_id, text,
             array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ') AS block_key
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(string_split(a.text, ' '), string_split(b.text, ' ')))::double
                 / greatest(len(list_distinct(list_concat(string_split(a.text, ' '),
                                                          string_split(b.text, ' ')))), 1), 6) AS jaccard
    FROM keyed a JOIN keyed b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    WHERE len(list_intersect(string_split(a.text, ' '), string_split(b.text, ' ')))::double
          / greatest(len(list_distinct(list_concat(string_split(a.text, ' '),
                                                   string_split(b.text, ' ')))), 1)
          >= {JACCARD_THRESHOLD}
"""

ER_COMPONENTS_SQL = f"""
    WITH RECURSIVE
    pairs AS ({ER_PAIRS_SQL}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(n, m) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
    comp AS (SELECT n AS node, least(n, min(m)) AS component FROM reach GROUP BY n)
    SELECT d.doc_id AS node, coalesce(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""
