"""Product quantization (PQ) + asymmetric distance (ADC) top-k — the
FAISS IVFPQ memory path (Jégou et al. 2011), built on the engine's own
deterministic k-means (operators/kmeans.py; reference ANN role
faiss_indexer.py:40,61-126).

Why at 100 TB: a 1024-d float32 embedding is 4 KB/vector; PQ at
m=64×8-bit codes is 64 B — a 64× cut in the bytes a similarity scan
moves. Candidates are scored directly on their CODES against a
per-query lookup table (ADC): no decompression, no full-precision
read until the final refinement of the few survivors (the int8 path
in operators/topk.py plays that role here).

Scale shape:

* training = m independent k-means over SUBVECTOR slices — each
  reuses `kmeans`'s map-side-combined GEMM partials (driver traffic
  O(k·d_sub) per iteration, never per-point); m is a small constant.
* encoding = one `mapInPandas` pass; per Arrow batch, per subspace,
  ONE GEMM against the k×d_sub codebook → argmin code. Output is
  (id, array<int> codes): the only per-point state, m ints.
* ADC top-k = one `mapInPandas` pass over the codes with the queries'
  m×k distance tables broadcast in the closure; each batch emits its
  LOCAL top-k per query (k·n_queries rows, never the batch), and one
  tiny window rank merges the partials — the `matmul_topk_pandas`
  shape.

Determinism (repo rule: round-before-compare): codebooks come from
the deterministic kmeans (seeded by smallest ids, 6-dp centroids);
code assignment argmins over ROUNDED squared distances with ties to
the smallest code; every LUT entry is rounded before the ADC sum, and
final ranks tie-break by id. The DuckDB oracle replays training,
encoding, and ADC from the same rules.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tempel_spark.operators.kmeans import ROUND_DP, kmeans
from tempel_spark.operators.topk import _rank_cut

__all__ = ["pq_train", "pq_encode", "pq_adc_topk", "ivfpq_topk", "PQCodebooks"]


@dataclass
class PQCodebooks:
    codebooks: list  # m × k × d_sub (plain lists — picklable/broadcastable)
    m: int
    k: int
    d_sub: int


def pq_train(
    df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    m: int = 2,
    k: int = 8,
    n_iter: int = 2,
    round_dp: int = ROUND_DP,
) -> PQCodebooks:
    """Train m per-subspace codebooks with the engine's deterministic
    k-means. The embedding dimension must divide evenly by ``m``."""
    dim = len(df.select(emb_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    books = []
    for s in range(m):
        sub = df.select(
            id_col, F.slice(F.col(emb_col), s * d_sub + 1, d_sub).alias(emb_col)
        )
        books.append(
            kmeans(sub, id_col, emb_col, k=k, n_iter=n_iter, round_dp=round_dp).centroids
        )
    return PQCodebooks(codebooks=books, m=m, k=k, d_sub=d_sub)


def _sub_sq_dists(x: np.ndarray, cents: np.ndarray, round_dp: int) -> np.ndarray:
    """Rounded squared L2 distances of every row of x (n×d_sub) to
    every centroid (k×d_sub) — one GEMM."""
    d = (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * (x @ cents.T)
        + (cents * cents).sum(axis=1)
    )
    return np.round(d, round_dp)


def pq_encode(
    df: DataFrame,
    books: PQCodebooks,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    round_dp: int = ROUND_DP,
) -> DataFrame:
    """(id, codes array<int>): per subspace the nearest codebook entry
    by rounded squared distance, ties to the smallest code id."""
    cents = [np.asarray(b, dtype="float64") for b in books.codebooks]
    m, d_sub = books.m, books.d_sub

    def gen(batches):
        for pdf in batches:
            x = np.asarray([list(v) for v in pdf[emb_col]], dtype="float64")
            if not len(x):
                continue
            codes = np.empty((len(x), m), dtype="int32")
            for s in range(m):
                d = _sub_sq_dists(x[:, s * d_sub : (s + 1) * d_sub], cents[s], round_dp)
                # rounded argmin with ties to the smallest code: argmin
                # scans left to right and keeps the FIRST minimum
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(codes)})

    out_schema = f"{id_col} long, codes array<int>"
    return df.select(id_col, emb_col).mapInPandas(gen, out_schema)


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    books: PQCodebooks,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k, query side DISTRIBUTED (r6):

    * the query frame crosses the driver exactly once, as a compact
      Arrow→NumPy matrix wrapped in a Spark broadcast — no Row
      collect, no per-query driver loop, no closure-shipped LUT list
      (the r5 shape built every m×k LUT on the driver, which caps the
      tier at toy query sets; reference eval pushes EVERY mention
      through retrieval);
    * each task builds the full LUT tensor once from the broadcast
      embeddings (m small GEMMs — guide §4.5 heavyweight init per
      task) and scores whole code batches against ALL queries with
      one fancy-index + pairwise sum per subspace — identical floats
      to the per-query form (same summation length and order, same
      rounding), verified by tests/test_new_operators.py.

    Candidates (vec_id, codes) are scored by m LUT lookups on their
    codes against queries (query_id, embedding). Returns query_id,
    vec_id, adc_dist, rank (ties by candidate id).
    """
    cents = [np.asarray(b, dtype="float64") for b in books.codebooks]
    m, d_sub = books.m, books.d_sub
    qpdf = queries.select("query_id", "embedding").toPandas()
    if not len(qpdf):
        raise ValueError("queries frame is empty")
    qids_arr = qpdf["query_id"].to_numpy()
    qmat = np.asarray([list(v) for v in qpdf["embedding"]], dtype="float64")
    bc = codes.sparkSession.sparkContext.broadcast((qids_arr, qmat))

    def gen(batches):
        qids, qv = bc.value
        # m × n_q × k LUT tensor, built once per task executor-side
        luts = np.stack(
            [
                _sub_sq_dists(qv[:, s * d_sub : (s + 1) * d_sub], cents[s], ROUND_DP)
                for s in range(m)
            ]
        )
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.asarray(list(pdf["codes"]), dtype="int64")  # n × m
            ids = pdf["vec_id"].to_numpy()
            take = min(k, len(ids))
            # Σ_s lut[s, q, code_s] for every (query, candidate) at
            # once; sum over the stacked m axis reproduces the
            # per-query (n, m).sum(axis=1) float order exactly
            dist_all = np.round(
                np.stack([luts[s][:, c[:, s]] for s in range(m)]).sum(axis=0),
                ROUND_DP,
            )
            for qi in range(len(qids)):
                dist = dist_all[qi]
                # local top-k per batch: rank merge happens JVM-side
                part = np.lexsort((ids, dist))[:take]
                yield pd.DataFrame(
                    {
                        "query_id": [qids[qi]] * take,
                        "vec_id": ids[part],
                        "adc_dist": dist[part],
                    }
                )

    partials = codes.mapInPandas(gen, "query_id long, vec_id long, adc_dist double")
    return _rank_cut(partials, k, F.asc("adc_dist"), tie="vec_id")


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = 2,
    k_pq: int = 8,
    n_iter: int = 2,
    k: int = 5,
) -> DataFrame:
    """The full FAISS IVFPQ shape: coarse k-means cells + PRODUCT
    QUANTIZATION OF THE RESIDUALS + per-cell asymmetric distance.

    Train: coarse centroids via the deterministic k-means; every
    vector's residual (x − centroid[cell]) is PQ-encoded — residuals
    concentrate around 0, so the same code budget quantizes far more
    precisely than raw-vector PQ. Query: probe the ``nprobe`` nearest
    cells (rounded coarse distance, ties to the smaller cell id) and
    ADC-score only those cells' candidates, each against the LUT of
    ITS cell's query residual. Candidates are touched as codes only.
    Input: vectors df (vec_id, embedding) and queries (query_id,
    embedding); output as ``pq_adc_topk``.

    Scale: training is n_iter+m bounded passes; the scan reads
    nprobe/n_cells of the codes, one map pass, local top-k per batch,
    window merge — the plan is identical at 10^12 codes with the cell
    count scaled up.
    """
    # validate + fetch queries FIRST (compact Arrow→NumPy, no Row
    # collect): an empty query frame must cost nothing, not a full
    # coarse + residual training run
    qpdf = queries.select("query_id", "embedding").toPandas()
    if not len(qpdf):
        raise ValueError("queries frame is empty")
    qids_arr = qpdf["query_id"].to_numpy()
    qmat = np.asarray([list(v) for v in qpdf["embedding"]], dtype="float64")

    coarse = kmeans(df, "vec_id", "embedding", k=n_cells, n_iter=n_iter)
    cents = np.asarray(coarse.centroids, dtype="float64")
    cent_map = {i: cents[i] for i in range(len(cents))}

    # residuals against the ASSIGNED cell's centroid (one map pass;
    # centroids ride the closure)
    assigned = df.select("vec_id", "embedding").join(
        coarse.assignments.select("vec_id", "cluster_id"), "vec_id"
    )

    def res_gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.asarray([list(v) for v in pdf["embedding"]], dtype="float64")
            c = np.stack([cent_map[i] for i in pdf["cluster_id"]])
            out = pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": pdf["cluster_id"],
                    "embedding": list(x - c),
                }
            )
            yield out

    residuals = assigned.mapInPandas(
        res_gen, "vec_id long, cluster_id int, embedding array<double>"
    )
    books = pq_train(residuals, m=m, k=k_pq, n_iter=n_iter)
    codes = pq_encode(residuals, books).join(
        coarse.assignments.select("vec_id", "cluster_id"), "vec_id"
    )

    sub_cents = [np.asarray(b, dtype="float64") for b in books.codebooks]
    d_sub = books.d_sub
    # probe selection: vectorized coarse distances for ALL queries at
    # once (one (n_q × n_cells) GEMM-shaped op on the compact query
    # matrix — same floats as the old per-query form: same per-pair
    # summation length, same rounding). Only the tiny (query, cell)
    # pair list is driver-built; the residual LUTs are NOT — they are
    # derived executor-side per task from the broadcast embeddings
    # (the r5 shape shipped every m×k LUT in the closure).
    cd_all = np.round(
        np.sqrt(
            np.clip(((qmat[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2), 0.0, None)
        ),
        ROUND_DP,
    )
    cell_idx = np.arange(len(cents))
    probed: list[tuple] = []
    for qi in range(len(qids_arr)):
        order = np.lexsort((cell_idx, cd_all[qi]))[:nprobe]
        probed.extend((int(qids_arr[qi]), int(cell)) for cell in order)

    probed_df = df.sparkSession.createDataFrame(probed, "query_id long, cluster_id int")
    cand = codes.join(F.broadcast(probed_df), "cluster_id")
    bc = df.sparkSession.sparkContext.broadcast((qids_arr, qmat))

    def adc_gen(batches):
        qids, qm = bc.value
        qpos = {int(q): i for i, q in enumerate(qids)}
        luts: dict[tuple, np.ndarray] = {}  # per-task (query, cell) LUT cache

        def lut_for(qid: int, cell: int) -> np.ndarray:
            key = (qid, cell)
            if key not in luts:
                qres = qm[qpos[qid]] - cents[cell]
                luts[key] = np.stack(
                    [
                        _sub_sq_dists(
                            qres[s * d_sub : (s + 1) * d_sub][None, :], sub_cents[s],
                            ROUND_DP,
                        )[0]
                        for s in range(m)
                    ]
                )
            return luts[key]

        for pdf in batches:
            if not len(pdf):
                continue
            for (qid, cell), grp in pdf.groupby(["query_id", "cluster_id"]):
                lut = lut_for(int(qid), int(cell))
                c = np.asarray(list(grp["codes"]), dtype="int64")
                ids = grp["vec_id"].to_numpy()
                dist = np.round(lut[np.arange(m), c].sum(axis=1), ROUND_DP)
                take = min(k, len(ids))
                part = np.lexsort((ids, dist))[:take]
                yield pd.DataFrame(
                    {
                        "query_id": [qid] * take,
                        "vec_id": ids[part],
                        "adc_dist": dist[part],
                    }
                )

    partials = cand.mapInPandas(adc_gen, "query_id long, vec_id long, adc_dist double")
    return _rank_cut(partials, k, F.asc("adc_dist"), tie="vec_id")
