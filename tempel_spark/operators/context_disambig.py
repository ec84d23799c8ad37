"""Per-occurrence disambiguation of ambiguous surfaces by context.

The surface-vocabulary pivot (pipeline.py) is semantically exact for
every surface that maps to ONE entity — identical surfaces are
must-links. The one loss it concedes is a single surface shared by
MULTIPLE entities (the abbreviated "Falcon" that sometimes means
"Falcon Krypton" and sometimes "Falcon Prairie"): surface-level
assignment sends every occurrence to the prior top-1 candidate
(abbreviation_edges), exactly like the reference's alias-table prior
rank — but the reference's *model* stage then re-ranks candidates per
mention-in-context (nn_prediction.py:76). This operator is that
re-rank, model-free:

  occurrence context → feature-hashed token vector (context.py)
  candidate cluster  → centroid of its full-form occurrences' vectors
  assignment         → argmax cosine, ties broken by mention-frequency
                       prior then component id (deterministic)

An optional one-sense-per-discourse vote (``conv_vote=True``) routes
an occurrence to the candidate whose full form holds the strict
majority of same-conversation mentions, before any cosine — for
corpora whose conversations are topically coherent. Off by default:
see disambiguate_occurrences' docstring for the measured rationale.

Scale posture: everything touches ONLY the ambiguous-surface
occurrences and a capped deterministic sample of candidate-surface
occurrences. The ambiguous surface list and the candidate/centroid
table are vocabulary-scale → broadcast joins; the 10^12-row corpus is
filtered by a broadcast semi-join before any text is vectorized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.context import anchor_visible_text, hashed_token_vector
from tempel_spark.functions.hashing import hash_uniform
from tempel_spark.functions.similarity import cosine_sim

__all__ = ["ambiguous_candidates", "disambiguate_occurrences"]


def ambiguous_candidates(scored: DataFrame) -> DataFrame:
    """Ambiguous partial surface → ALL its full-form candidates.

    From the scored pair table (score_pairs output with id_a/id_b =
    surfaces and n_mentions_a/b carried): the short side of an
    is_partial pair is the ambiguous surface, the other side a
    candidate. Surfaces with ≥ 2 distinct candidates are ambiguous —
    with one candidate the prior edge is already the right answer.
    Sources anchored by a must-link to a longer surface are excluded
    (same rule as abbreviation_edges — their home cluster is known).

    Output: (snapshot_ts, surface, cand_surface, cand_freq).
    """
    from tempel_spark.operators.scoring import anchored_partial_sources

    a_is_src = F.size(F.split(F.col("norm_a"), " ")) <= F.size(F.split(F.col("norm_b"), " "))
    cand = (
        scored.filter(F.col("is_partial") & ~F.col("is_match"))
        .select(
            "snapshot_ts",
            F.when(a_is_src, F.col("id_a")).otherwise(F.col("id_b")).alias("surface"),
            F.when(a_is_src, F.col("id_b")).otherwise(F.col("id_a")).alias("cand_surface"),
            F.when(a_is_src, F.col("n_mentions_b")).otherwise(F.col("n_mentions_a")).alias("cand_freq"),
        )
        .dropDuplicates(["snapshot_ts", "surface", "cand_surface"])
    )
    cand = cand.join(
        anchored_partial_sources(scored), ["snapshot_ts", "surface"], "left_anti"
    )
    n = Window.partitionBy("snapshot_ts", "surface")
    return (
        cand.withColumn("_nc", F.count(F.lit(1)).over(n))
        .filter(F.col("_nc") >= 2)
        .drop("_nc")
    )


def disambiguate_occurrences(
    transcripts: DataFrame,
    mentions: DataFrame,
    surface_components: DataFrame,
    candidates: DataFrame,
    dim: int = 64,
    seed: int = 42,
    sample_per_surface: int = 200,
    stop_df: float = 0.05,
    margin: float = 0.05,
    conv_vote: bool = False,
) -> DataFrame:
    """Per-occurrence component overrides for ambiguous surfaces.

    stop_df: tokens appearing in more than this fraction of the
    subset's turns are dropped before vectorizing (0.05: a filler
    PHRASE shared by ~10% of turns puts each of its tokens at ~10%
    df, so the cutoff must sit well below that) — boilerplate
    phrasing ("let me check the records for …") otherwise drowns the
    topical tokens that actually separate the candidates. The
    stoplist is a bounded driver scalar: a token needs df ≥ stop_df·N,
    so at most avg_tokens_per_turn / stop_df tokens qualify at ANY
    corpus size (A7 two-phase pattern, not a data collect).
    [Measured alternative, rejected: a cross-group-coverage criterion
    ("stop tokens spread over ≥50% of (snapshot,surface) groups, keep
    concentrated topical ones") dropped hidden-gold F1 0.98-0.996 →
    0.94-0.97 on the synthetic corpus — ambiguous-surface groups are
    small, so boilerplate routinely misses the coverage bar and gets
    KEPT. Pure doc-df is both simpler and measurably better.]

    conv_vote: one-sense-per-discourse routing — an occurrence whose
    conversation ALSO mentions full-form candidate surfaces routes to
    the candidate with the strict majority of same-conversation
    mentions (unique argmax, un-gated; ties and vote-less occurrences
    fall through to cosine). Off by default: it helps only corpora
    whose conversations are topically coherent; on the synthetic
    eval corpus turns draw entities independently, so the vote
    reduces to a noisy popularity prior and measurably hurts
    (hidden-gold F1 0.97 vs 0.98+ without it).

    margin: the context pick must beat the PRIOR top-1 candidate's
    cosine by this much, or the occurrence stays with the prior —
    context evidence overrides frequency evidence only when it is
    actually discriminative (ties/zero-signal fall back, so enabling
    context can't do worse than the prior baseline on noise).

    Returns (snapshot_ts, mention_id, component) — left-join +
    coalesce over the surface-level assignment downstream.
    """
    text = transcripts.select("conv_id", "turn_idx", "text")

    amb_surf = candidates.select("snapshot_ts", "surface").distinct()
    cand_surf = candidates.select(
        "snapshot_ts", F.col("cand_surface").alias("surface")
    ).distinct()

    # ---- occurrence texts (ambiguous) + capped candidate texts ------
    occ_txt = (
        mentions.join(F.broadcast(amb_surf), ["snapshot_ts", "surface"])
        .join(text, ["conv_id", "turn_idx"])
        .select("snapshot_ts", "surface", "mention_id", "text")
    )
    w_cap = Window.partitionBy("snapshot_ts", "surface").orderBy(
        hash_uniform("mention_id", seed=seed + 1).asc(), F.col("mention_id").asc()
    )
    cand_txt = (
        mentions.join(F.broadcast(cand_surf), ["snapshot_ts", "surface"])
        .withColumn("_rn", F.row_number().over(w_cap))
        .filter(F.col("_rn") <= sample_per_surface)
        .join(text, ["conv_id", "turn_idx"])
        .select("snapshot_ts", "surface", "text")
    )

    # ---- bounded high-DF stoplist over the working texts -------------
    visible = anchor_visible_text("text")
    norm_toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.regexp_replace(visible, r"[^\p{L}\p{N}]+", " ")), " "),
            lambda w: w != F.lit(""),
        )
    )
    working = occ_txt.select("text").unionByName(cand_txt.select("text"))
    n_docs = working.count()
    stop_rows = (
        working.select(F.explode(norm_toks).alias("tok"))
        .groupBy("tok")
        .count()
        .filter(F.col("count") >= F.lit(max(2.0, stop_df * n_docs)))
        .collect()
    )
    stopwords = sorted(r.tok for r in stop_rows)

    # context = text MINUS the row's own mention tokens: the shared
    # surface token matches every candidate equally but biases cosine
    # toward the shorter-named candidate (smaller centroid norm) —
    # observed routing no-signal occurrences into the wrong cluster.
    vec = hashed_token_vector(
        visible, dim=dim, seed=seed, stopwords=stopwords, exclude=F.col("surface")
    )
    occ = occ_txt.select("snapshot_ts", "surface", "mention_id", vec.alias("v"))
    cocc = cand_txt.select("snapshot_ts", "surface", vec.alias("v"))

    centroid = cocc.groupBy("snapshot_ts", "surface").agg(
        F.array(*[F.avg(F.element_at("v", i + 1)) for i in range(dim)]).alias("centroid")
    )

    w_prior = Window.partitionBy("snapshot_ts", "surface").orderBy(
        F.col("cand_freq").desc(), F.col("cand_surface").asc()
    )
    cand_full = (
        candidates.withColumn("_prior_rank", F.row_number().over(w_prior))
        .join(
            centroid.withColumnRenamed("surface", "cand_surface"),
            ["snapshot_ts", "cand_surface"],
        )
        .join(
            surface_components.select(
                "snapshot_ts",
                F.col("surface").alias("cand_surface"),
                F.col("component").alias("cand_component"),
            ),
            ["snapshot_ts", "cand_surface"],
        )
    )

    # ---- conversation co-mention vote (one-sense-per-discourse) ------
    # neighbors = same-conversation mentions of this surface's FULL-FORM
    # candidates (excluding surfaces that are themselves ambiguous —
    # their own assignment is in question). All joins are equi-joins on
    # (snapshot, conv, candidate); the vocab-scale frames broadcast,
    # the occurrence-scale sides shuffle on their keys.
    occ_conv = mentions.join(F.broadcast(amb_surf), ["snapshot_ts", "surface"]).select(
        "snapshot_ts", "surface", "mention_id", "conv_id"
    )
    neigh = (
        mentions.join(F.broadcast(cand_surf), ["snapshot_ts", "surface"])
        .join(F.broadcast(amb_surf), ["snapshot_ts", "surface"], "left_anti")
        .select(
            "snapshot_ts", "conv_id", F.col("surface").alias("cand_surface")
        )
    )
    from tempel_spark.operators.metrics import strict_majority

    votes = occ_conv.join(
        F.broadcast(candidates.select("snapshot_ts", "surface", "cand_surface")),
        ["snapshot_ts", "surface"],
    ).join(neigh, ["snapshot_ts", "conv_id", "cand_surface"])
    # strict majority: a UNIQUE argmax candidate, else fall through
    conv_pick = (
        strict_majority(votes, ["snapshot_ts", "mention_id"], "cand_surface")
        .join(
            surface_components.select(
                "snapshot_ts",
                F.col("surface").alias("cand_surface"),
                F.col("component").alias("component"),
            ),
            ["snapshot_ts", "cand_surface"],
        )
        .select("snapshot_ts", "mention_id", "component")
    )

    # ---- margin-gated argmax cosine per occurrence --------------------
    j = occ.join(F.broadcast(cand_full), ["snapshot_ts", "surface"]).withColumn(
        "_sim", cosine_sim("v", "centroid")
    )
    w_m = Window.partitionBy("snapshot_ts", "mention_id")
    j = j.withColumn(
        "_prior_sim", F.max(F.when(F.col("_prior_rank") == 1, F.col("_sim"))).over(w_m)
    )
    w_pick = w_m.orderBy(
        F.col("_sim").desc(), F.col("cand_freq").desc(), F.col("cand_component").asc()
    )
    ctx_pick = (
        j.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        # context wins only with a real margin over the prior pick
        .withColumn(
            "_use_ctx",
            (F.col("_prior_rank") != 1)
            & (F.col("_sim") >= F.coalesce(F.col("_prior_sim"), F.lit(0.0)) + margin),
        )
        .filter(F.col("_use_ctx"))
        .select("snapshot_ts", "mention_id", F.col("cand_component").alias("component"))
    )
    if not conv_vote:
        return ctx_pick
    # discourse vote takes precedence; cosine covers the rest
    return conv_pick.unionByName(
        ctx_pick.join(
            conv_pick.select("snapshot_ts", "mention_id"),
            ["snapshot_ts", "mention_id"],
            "left_anti",
        )
    )
