"""Distributed Lloyd's k-means over an embedding column.

Role: deterministic coarse quantizer / topic-clustering operator for
the LLM-pipeline family — the trained-codebook counterpart of the
hyperplane quantizer in ``operators/topk.py`` (FAISS IVF trains
exactly this; reference ANN role faiss_indexer.py:40,61-126). Also
the standard curation primitive for clustering a corpus by embedding
before per-cluster sampling/dedup.

Scale shape (the plan at 100 TB):

- The centroid matrix is k×d floats — broadcast via closure into one
  ``mapInPandas`` pass per iteration. Each Arrow batch does ONE
  numpy GEMM against it (same tier as ``matmul_topk_pandas``) and
  emits k partial rows (cluster, count, sum-vector): a map-side
  combine, so the shuffle after it carries k rows per batch, never
  per-point data.
- The partials reduce to exactly k×d cells with one hash aggregate;
  only that bounded frame (e.g. 8 clusters × 64 dims) is collected.
  Driver traffic per iteration is O(k·d), independent of corpus size
  — the treeAggregate shape MLlib's KMeans uses, expressed as
  DataFrame ops.
- No per-point state is materialized during fitting; the labeled
  assignment frame is produced once at the end.

Determinism (repo rule: round-before-compare):

- init: the k rows with the smallest ids, cluster id = rank in that
  order — no RNG anywhere.
- every updated centroid coordinate is rounded to ``round_dp``
  decimals, so iteration n+1 starts from engine-identical centroids
  even though float partial-sum order differs across partitionings
  and engines (the DuckDB oracle rounds the same way).
- argmin over centroids orders by (round(dist, round_dp), cluster)
  — boundary ties break to the smallest cluster id in both engines.
- empty clusters keep their previous centroid (no re-seeding), so a
  run is a pure function of (input, k, n_iter).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tempel_spark.operators.topk import _cosine_topk

__all__ = ["kmeans", "kmeans_assign", "kmeans_ivf_topk", "KMeansResult"]

# decimals every centroid coordinate and distance is rounded to (the
# DuckDB oracles round the same way)
ROUND_DP = 6


@dataclass
class KMeansResult:
    assignments: DataFrame  # (id, cluster_id, dist)
    centroids: list[list[float]]  # k rounded centroid vectors
    k: int
    n_iter: int


def _dist_matrix(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Euclidean distances point×centroid via one GEMM:
    ||x-c||² = ||x||² - 2x·c + ||c||² (clipped at 0 — the GEMM form
    can go ~1e-13 negative when x ≈ c)."""
    d2 = (
        (x * x).sum(axis=1)[:, None]
        - 2.0 * (x @ cents.T)
        + (cents * cents).sum(axis=1)[None, :]
    )
    return np.sqrt(np.clip(d2, 0.0, None))


def _argmin_rounded(dist: np.ndarray, round_dp: int) -> np.ndarray:
    # np.argmin returns the FIRST minimum → smallest cluster id on a
    # rounded tie, matching the oracle's ORDER BY round(dist), cid
    return np.argmin(np.round(dist, round_dp), axis=1)


def _partial_sums(
    df: DataFrame, emb_col: str, cents: np.ndarray, round_dp: int
) -> DataFrame:
    """One fitting pass: per Arrow batch, GEMM-assign and emit k
    partial (cluster, n, sum-vector) rows."""
    k, d = cents.shape

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[emb_col].to_list()).astype("float64")
            lab = _argmin_rounded(_dist_matrix(x, cents), round_dp)
            rows = []
            for cid in np.unique(lab):
                m = lab == cid
                rows.append((int(cid), int(m.sum()), x[m].sum(axis=0).tolist()))
            yield pd.DataFrame(rows, columns=["cluster_id", "n", "s"])

    return df.select(emb_col).mapInPandas(
        gen, schema="cluster_id int, n long, s array<double>"
    )


def kmeans_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_dp: int = ROUND_DP,
) -> DataFrame:
    """Label every row with its nearest centroid (one GEMM pass).
    Output: (id_col, cluster_id, dist) with dist rounded to
    ``round_dp`` — usable standalone as the coarse-quantizer bucket
    assignment for a trained IVF."""
    cents = np.asarray(centroids, dtype="float64")

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[emb_col].to_list()).astype("float64")
            dist = _dist_matrix(x, cents)
            lab = _argmin_rounded(dist, round_dp)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster_id": lab.astype("int32"),
                    "dist": np.round(dist[np.arange(len(lab)), lab], round_dp),
                }
            )

    in_schema = df.schema
    id_t = next(f.dataType.simpleString() for f in in_schema if f.name == id_col)
    return df.select(id_col, emb_col).mapInPandas(
        gen, schema=f"{id_col} {id_t}, cluster_id int, dist double"
    )


def _probe_assign(
    df: DataFrame,
    cents: np.ndarray,
    id_col: str,
    emb_col: str,
    nprobe: int,
) -> DataFrame:
    """Per row, the ``nprobe`` nearest centroids (rounded-distance
    order, ties to the smallest cluster id) — the embedding column is
    passed through so no reattachment join is needed."""
    nprobe = min(nprobe, len(cents))

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[emb_col].to_list()).astype("float64")
            dist = np.round(_dist_matrix(x, cents), ROUND_DP)
            # lexsort: primary rounded dist, secondary centroid id —
            # np.argsort(kind="stable") on dist gives exactly that
            order = np.argsort(dist, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy().repeat(nprobe)[: n * nprobe],
                    emb_col: [e for e in pdf[emb_col] for _ in range(nprobe)],
                    "cluster_id": order.reshape(-1).astype("int32"),
                }
            )

    in_schema = {f.name: f.dataType.simpleString() for f in df.schema}
    return df.select(id_col, emb_col).mapInPandas(
        gen,
        schema=f"{id_col} {in_schema[id_col]}, {emb_col} {in_schema[emb_col]}, cluster_id int",
    )


def kmeans_ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k with a TRAINED coarse quantizer — the actual
    FAISS IVF shape (train k-means, assign each candidate to its
    nearest centroid, search a query's ``nprobe`` nearest cells),
    complementing ``topk.ivf_topk``'s data-independent hyperplane
    quantizer. On clustered corpora the trained cells follow the data
    density, so the same probe budget buys more recall.

    Scale shape: identical to ivf_topk — candidates get ONE cell each
    (a map-only GEMM pass, centroid matrix in the closure), queries
    explode nprobe-fold (the small side), and the cell equi-join
    shuffles on cluster_id with no replication. AQE handles cell
    skew; recall floors are pinned in tests.

    Input and output follow ``topk``'s contract: queries (query_id,
    q_emb), candidates (cand_id, c_emb) → (query_id, cand_id, score,
    rank), scored by the same cosine as the other tiers — with
    ``nprobe`` = every cell, exactly ``brute_force_topk``'s rows.
    """
    cents = np.asarray(centroids, dtype="float64")
    qb = _probe_assign(queries, cents, "query_id", "q_emb", nprobe)
    cb = _probe_assign(candidates, cents, "cand_id", "c_emb", 1)
    return _cosine_topk(qb, cb, k, lambda q, c: q.join(c, "cluster_id"))


def kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: int = 8,
    n_iter: int = 2,
    round_dp: int = ROUND_DP,
) -> KMeansResult:
    """Lloyd's k-means: ``n_iter`` assign→update rounds from the
    deterministic seed (the k smallest-id vectors), then a final
    labeling pass against the last centroids."""
    # bounded collect: exactly k seed vectors, ordered by id
    seed_rows = (
        df.select(id_col, emb_col).orderBy(id_col).limit(k).collect()
    )
    cents = np.asarray([list(r[emb_col]) for r in seed_rows], dtype="float64")
    if len(cents) < k:
        raise ValueError(f"k={k} but only {len(cents)} input rows")

    for _ in range(n_iter):
        partials = _partial_sums(df, emb_col, cents, round_dp)
        # reduce to k×d cells JVM-side; only that bounded frame is
        # collected (posexplode keeps the shuffle at k×d×batches tiny
        # rows — never per-point)
        cells = (
            partials.select(
                "cluster_id", "n", F.posexplode("s").alias("idx", "val")
            )
            .groupBy("cluster_id", "idx")
            .agg(F.sum("n").alias("n"), F.sum("val").alias("s"))
            .collect()
        )
        counts: dict[int, int] = {}
        sums = np.zeros_like(cents)
        for r in cells:
            # every idx row of a cluster carries the same summed n;
            # take it once (idx 0 exists for any non-empty cluster)
            if r["idx"] == 0:
                counts[r["cluster_id"]] = r["n"]
            sums[r["cluster_id"], r["idx"]] = r["s"]
        new = cents.copy()  # empty cluster keeps its previous centroid
        for cid, n in counts.items():
            new[cid] = np.round(sums[cid] / n, round_dp)
        cents = new

    return KMeansResult(
        assignments=kmeans_assign(df, cents.tolist(), id_col, emb_col, round_dp),
        centroids=cents.tolist(),
        k=k,
        n_iter=n_iter,
    )
