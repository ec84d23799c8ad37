"""Vector similarity search (SURVEY.md §2.3 J11/J12; reference FAISS
IndexFlatIP brute-force + HNSW, faiss_indexer.py:40,61-126,
nn_prediction.py:76).

Three tiers, in preference order at scale:

1. ``brute_force_topk`` — exact: broadcast the (small) query side
   against the partitioned candidate side, native cosine, window
   rank-filter. This IS the reference's IndexFlatIP semantics.
2. ``ivf_topk`` — approximate: both sides bucketed by a deterministic
   coarse quantizer (sign bits of random-ish hyperplane projections —
   the same family as FAISS IVF/LSH coarse quantization); candidates
   searched only within the query's bucket (+ optional multi-probe).
   Turns O(Q×N) into O(Q×N/2^bits) with a bucket-key equi-join Spark
   shuffles normally (AQE handles bucket skew).
3. ``matmul_topk_pandas`` — exact, Arrow-batched: per-partition numpy
   GEMM against the broadcast query matrix. Use when the candidate
   row count per partition is large enough that BLAS beats codegen
   (wide embeddings, many queries).

One column contract: queries are (query_id, q_emb), candidates
(cand_id, c_emb) — (query_id, embedding)/(cand_id, embedding) for the
int8 tier — and every tier, the trained-quantizer and PQ tiers of
``kmeans.py``/``pq.py`` included, ends in the same ``_rank_cut``
(row_number per query, ties to the smaller candidate id).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import dot_product

__all__ = [
    "quantize_embeddings",
    "quantized_dot_topk",
    "brute_force_topk",
    "ivf_topk",
    "matmul_topk_pandas",
    "hyperplane_bucket",
    "hyperplane_projections",
]


def _rank_cut(
    df: DataFrame,
    k: int,
    order: Column,
    tie: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """The top-k tail every vector top-k operator shares: number the
    rows of each query_id by ``order``, ties broken by ascending ``tie``
    (the candidate id), and keep ranks ≤ k in ``rank_col``."""
    w = Window.partitionBy("query_id").orderBy(order, F.col(tie))
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def _cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    join: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """Cosine top-k of ``join(queries, candidates)`` →
    (query_id, cand_id, score, rank). Each side's norm is evaluated
    ONCE PER ROW before the join: cosine_sim per pair re-folds
    sqrt(v·v) for both sides on every (query, candidate) combination
    for identical doubles (same fold over the same values)."""
    q = queries.withColumn("_qn", F.sqrt(dot_product("q_emb", "q_emb")))
    c = candidates.withColumn("_cn", F.sqrt(dot_product("c_emb", "c_emb")))
    denom = F.col("_qn") * F.col("_cn")
    sim = (
        dot_product("q_emb", "c_emb") / F.when(denom > 0, denom).otherwise(F.lit(1.0))
    ).cast("double")
    return _rank_cut(join(q, c).withColumn("_score", sim), k, F.col("_score").desc()).select(
        "query_id", "cand_id", F.col("_score").alias("score"), "rank"
    )


def brute_force_topk(queries: DataFrame, candidates: DataFrame, k: int = 64) -> DataFrame:
    """Exact cosine top-k of queries (query_id, q_emb) over candidates
    (cand_id, c_emb): candidates stay partitioned (the 10^12 side),
    queries broadcast. Output: (query_id, cand_id, score, rank)."""
    return _cosine_topk(queries, candidates, k, lambda q, c: c.crossJoin(F.broadcast(q)))


def _hyperplane_proj(emb, b: int, dim: int | None = None):
    """Projection of `emb` onto pseudo-random hyperplane `b`:
    Σ x_i · w_i with w_i = +1 if md5("hp{b}:{i}") first hex nibble
    >= '8' else -1 — engine-portable (the SQL oracles rebuild the
    identical weights) and retry-stable, unlike a trained codebook.

    With ``dim`` known, the ±1 weight vector is a PYTHON-computed
    literal array (hashlib md5 — bit-identical recipe): the expression
    form re-derives n_bits × dim md5s PER ROW because Catalyst cannot
    constant-fold through the per-element lambda (r6; same class of
    waste as the MinHash normalize-in-lambda bug)."""
    if dim is not None:
        import hashlib

        weights = F.array(
            *[
                F.lit(
                    1.0
                    if hashlib.md5(f"hp{b}:{i}".encode()).hexdigest()[0] >= "8"
                    else -1.0
                )
                for i in range(1, dim + 1)
            ]
        )
    else:

        def _weight(i):
            # single-arg lambda via factory — `lambda i, b=b:` would become
            # the (element, index) transform form and bind b to the index
            # Column (see blocking.minhash_signature)
            return F.when(
                F.substring(F.md5(F.concat(F.lit(f"hp{b}:"), i.cast("string"))), 1, 1) >= "8",
                F.lit(1.0),
            ).otherwise(F.lit(-1.0))

        weights = F.transform(F.sequence(F.lit(1), F.size(emb)), _weight)

    return F.aggregate(
        F.zip_with(emb, weights, lambda x, w: x.cast("double") * w),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def hyperplane_bucket(emb_col, n_bits: int = 4, dim: int | None = None, seed: int = 7):
    """Deterministic coarse quantizer: sign of Σ w_i·x_i per bit (see
    ``_hyperplane_proj``). Pass ``dim`` when the embedding width is
    known so the weights become literals instead of per-row md5s."""
    emb = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    bits = []
    for b in range(n_bits):
        proj = _hyperplane_proj(emb, b, dim=dim)
        bits.append(F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0)) * (2**b))
    out = bits[0]
    for x in bits[1:]:
        out = out + x
    return out.cast("int")


def hyperplane_projections(emb_col, n_bits: int = 4, dim: int | None = None):
    """array<double> of the n_bits raw hyperplane projections — the
    per-query margins adaptive multi-probe ranks its perturbations by
    (only the QUERY side ever evaluates this; candidates need just the
    sign bits)."""
    emb = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    return F.array(*[_hyperplane_proj(emb, b, dim=dim) for b in range(n_bits)])


def _adaptive_probe_masks(projs, n_bits: int, nprobe: int):
    """Query-directed probe ranking (multi-probe LSH, Lv et al. 2007,
    VLDB — public literature): a perturbation set S (bits to flip)
    costs Σ_{b∈S} |proj_b| — the summed margins of the flipped
    hyperplanes, i.e. how far the query sits from the boundary it is
    pushed across.  Enumerate every S with |S| ≤ 2 (Hamming-1 AND
    Hamming-2, n + n(n-1)/2 sets — n_bits is small), rank by
    (rounded cost, mask) and take the nprobe-1 cheapest.  Rounding to
    6 dp before ranking keeps the order reproducible across engines
    whose float-sum orders differ (the SQL oracle ranks the same
    rounded costs).

    Returns an array column of XOR masks, cheapest first."""
    import itertools

    cands = []
    for size in (1, 2):
        for S in itertools.combinations(range(n_bits), size):
            mask = sum(1 << b for b in S)
            cost = F.abs(F.element_at(projs, S[0] + 1))
            for b in S[1:]:
                cost = cost + F.abs(F.element_at(projs, b + 1))
            cands.append(
                F.struct(F.round(cost, 6).alias("cost"), F.lit(mask).alias("mask"))
            )
    ranked = F.array_sort(F.array(*cands))  # (cost, mask) lexicographic
    return F.transform(
        F.slice(ranked, 1, min(nprobe - 1, len(cands))), lambda s: s["mask"]
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 64,
    n_bits: int = 4,
    nprobe: int = 1,
    probe: str = "hamming1",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: search the query's hyperplane bucket, plus —
    with ``nprobe`` > 1 — neighbor buckets (the FAISS multi-probe
    idea, reference ANN role faiss_indexer.py:61-126).

    probe="hamming1": flip one sign bit per extra probe, lowest index
    first — cheap, probe set independent of the query's position.
    probe="adaptive": rank ALL ≤2-bit flips by the query's distance to
    the flipped hyperplanes and take the nprobe-1 cheapest (query-
    directed multi-probe LSH) — at the same nprobe this aims the
    probes where the neighbors actually are, and it reaches Hamming-2
    buckets Hamming-1 probing never visits; recall@64 ≥ 0.9 at d=128
    is pinned in tests/test_new_operators.py.

    Recall < 1 by design; tests pin recall floors vs brute force.

    Scale shape: the bucket equi-join shuffles both sides on the
    bucket key instead of replicating anything; multi-probe only
    explodes the (small) query side nprobe-fold, the candidate side
    is untouched — it computes sign bits only, never the raw
    projections.  Each candidate lives in exactly one bucket and the
    probe list is distinct, so no (query, candidate) pair dedup is
    needed before ranking."""
    if dim is None:
        # one tiny job on the (small) query side turns every per-row
        # hyperplane weight md5 into a plan-time literal
        row = queries.select("q_emb").first()
        if row is not None and row[0] is not None:
            dim = len(row[0])
    base = hyperplane_bucket("q_emb", n_bits, dim=dim)
    if nprobe > 1 and probe == "adaptive":
        masks = _adaptive_probe_masks(
            hyperplane_projections("q_emb", n_bits, dim=dim), n_bits, nprobe
        )
        probes = F.concat(F.array(base), F.transform(masks, lambda m: base.bitwiseXOR(m)))
        qb = queries.withColumn("_bucket", F.explode(probes))
    elif nprobe > 1:
        probes = F.array(
            base, *[base.bitwiseXOR(F.lit(1 << j)) for j in range(min(nprobe - 1, n_bits))]
        )
        qb = queries.withColumn("_bucket", F.explode(probes))
    else:
        qb = queries.withColumn("_bucket", base)
    cb = candidates.withColumn("_bucket", hyperplane_bucket("c_emb", n_bits, dim=dim))
    return _cosine_topk(qb, cb, k, lambda q, c: q.join(c, "_bucket"))


def matmul_topk_pandas(
    queries_pdf: pd.DataFrame,
    candidates: DataFrame,
    k: int = 64,
) -> DataFrame:
    """Exact top-k of candidates (cand_id, c_emb) via per-partition
    numpy GEMM (Arrow batches).

    queries_pdf: small pandas frame (query_id, embedding list) —
    broadcast via closure, one BLAS matmul per Arrow batch. The
    reference's `embedding_ctxt.mm(cand_encs.t())` (biencoder.py:105)
    with the partition as the candidate block.
    """
    import numpy as np

    qids = queries_pdf.iloc[:, 0].to_numpy()
    qmat = np.stack(queries_pdf.iloc[:, 1].to_list()).astype("float64")
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.stack(pdf["c_emb"].to_list()).astype("float64")
            cnorm = np.linalg.norm(cmat, axis=1)
            cnorm[cnorm == 0] = 1.0
            sims = (qmat @ cmat.T) / qnorm[:, None] / cnorm[None, :]
            n_take = min(k, sims.shape[1])
            idx = np.argpartition(-sims, n_take - 1, axis=1)[:, :n_take]
            rows = []
            for qi in range(sims.shape[0]):
                for ci in idx[qi]:
                    rows.append((qids[qi], pdf["cand_id"].iloc[ci], float(sims[qi, ci])))
            yield pd.DataFrame(rows, columns=["query_id", "cand_id", "score"])

    partial = candidates.mapInPandas(gen, schema="query_id long, cand_id long, score double")
    # per-partition top-k → global top-k (tree reduction, no full sort)
    return _rank_cut(partial, k, F.col("score").desc())


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Fraction of exact top-k (query_id, cand_id) pairs the
    approximate index returned."""
    hit = approx.join(exact, ["query_id", "cand_id"], "inner").count()
    total = exact.count()
    return hit / total if total else 1.0


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale =
    max|x| / 127, q_i = round(x_i / scale) in [-127, 127] as
    array<int>; an all-zero vector gets scale 0 and a zero qvec.

    The memory/bandwidth half of the similarity-search scale path: at
    100 TB the embedding column is the dominant shuffle and cache
    cost, and int8 cuts it 4x while keeping the dot product EXACT
    integer arithmetic (|q|<=127, d<=2^23 keeps the sum in int64 and
    bit-identical on any engine or partitioning) — rank by quantized
    dot, refine the short list at full precision. All native
    expressions (array_max + transform), whole-stage codegen."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(vec_col, lambda x: F.abs(x.cast("double"))))
    scale = mx / F.lit(127.0)
    q = F.when(
        scale > 0,
        F.transform(v, lambda x: F.round(x / scale, 0).cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def quantized_dot_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Brute-force top-k of queries (query_id, embedding) over
    candidates (cand_id, embedding) by int8-quantized dot product. Output
    (query_id, cand_id, qdot, approx_dot, rn): qdot is the exact
    integer quantized dot (the ranking key — deterministic, no float
    tiebreak ambiguity), approx_dot = qdot * scale_q * scale_c the
    dequantized estimate. Queries broadcast; candidates stay
    partitioned (the IndexFlatIP shape of brute_force_topk, 4x
    cheaper per byte)."""
    qz = quantize_embeddings(queries).select(
        "query_id", F.col("qvec").alias("_qa"), F.col("qscale").alias("_sa")
    )
    cz = quantize_embeddings(candidates).select(
        "cand_id", F.col("qvec").alias("_qb"), F.col("qscale").alias("_sb")
    )
    qdot = F.aggregate(
        F.zip_with("_qa", "_qb", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return _rank_cut(
        cz.crossJoin(F.broadcast(qz)).withColumn("qdot", qdot),
        k,
        F.col("qdot").desc(),
        rank_col="rn",
    ).select(
        "query_id",
        "cand_id",
        "qdot",
        F.round(F.col("qdot") * F.col("_sa") * F.col("_sb"), 6).alias("approx_dot"),
        "rn",
    )
