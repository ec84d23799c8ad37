"""Pairwise scoring (SURVEY.md §7 Phase 3).

Scores candidate pairs with the feature family the north_rule names:
Jaro-Winkler (pandas UDF) + token-set Levenshtein ratio (native
`F.levenshtein`, reference formula misc/utils.py:22-26) + token
Jaccard + optional cached-embedding cosine (native zip_with dot,
reference biencoder.py:105-123).

The must-link rule is the reference's edit-ratio threshold
(ratio_edit_distance < 0.2, s03_dataset_creator.json:44-46). The
reference's OTHER must-link — whole-word containment
(s03_final_dataset_creator_utils.py:611-665) — is deliberately NOT an
unconditional link here: a contained shortening with several
completions welds entities together transitively (see score_pairs);
containment-shaped pairs resolve by alias-table prior rank instead
(s02:434-440), the same way the reference's own linking stage ranks
candidates. The literal containment rule is used where its semantics
are right: subset-clustering leakage control
(plans/dataset_creator.assign_subsets_leakage_safe).

Everything except Jaro-Winkler is whole-stage-codegen; the UDF is
Arrow-batched (no per-row Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import (
    cosine_sim,
    jaro_winkler_udf,
    levenshtein_ratio,
    set_jaccard,
)

__all__ = [
    "score_pairs", "with_embeddings", "abbreviation_edges", "anchored_partial_sources",
    "MUST_LINK_RATIO", "MATCH_THRESHOLD",
]

MUST_LINK_RATIO = 0.2  # reference s03_dataset_creator.json:44
MATCH_THRESHOLD = 0.75  # score_pairs' default is_match cut
# every column score_pairs adds (helpers included)
_OUTPUT_COLS = (
    "ratio_edit_distance", "jaccard", "_subset", "_diffcount", "jaro_winkler",
    "cosine", "score", "must_link", "is_partial", "is_match",
)


def score_pairs(pairs: DataFrame, threshold: float = MATCH_THRESHOLD) -> DataFrame:
    """Add feature + score columns to a candidate-pair DataFrame and an
    `is_match` decision.

    score = 0.45·JW + 0.30·(1−lev_ratio) + 0.25·jaccard
            (re-weighted to 0.35/0.25/0.20/0.20·cosine when the frame
             carries `emb_a`/`emb_b` columns, see with_embeddings)
    is_match = must_link OR (score ≥ threshold AND NOT is_partial)

    Features read the ALREADY-normalized `norm_a`/`norm_b` columns
    (the pipeline normalizes once per distinct surface upstream).
    Catalyst's CollapseProject inlines per-column expressions into
    every consumer, so an inline normalize here would be re-executed
    ~20× per pair row (regex each time) — normalizing on the distinct
    vocabulary and carrying the result is the scale-correct shape.
    """
    # Features computed on normalized surfaces (lower/underscore/space
    # collapse — the reference normalizes mentions the same way before
    # its alias-table stats, s02:253-254) so case/underscore drift
    # never splits a cluster.
    na, nb = F.col("norm_a"), F.col("norm_b")
    lev = levenshtein_ratio(na, nb)
    jw = jaro_winkler_udf(na, nb)

    # The token-array features (jaccard, the subset test, the token
    # counts) all derive from the same two splits, and the decision
    # columns below re-reference the feature columns — CollapseProject
    # would inline a fresh copy of each split/levenshtein tree into
    # every consumer. Route the shared scalar features through ONE
    # Generate (inline of a 1-element struct array): a Generate's
    # outputs are attributes, not aliases, so consumers reference them
    # without duplicating the trees — the same shape that fixed
    # q_minhash_signature's 16-fold signature re-evaluation. The
    # splits themselves are bound once via bind_once. All feature
    # expressions are term-for-term those of token_jaccard /
    # levenshtein_ratio — identical values, bit for bit.
    from tempel_spark.operators.blocking import bind_once

    def _feats(t):
        ta, tb = t["ta"], t["tb"]

        jac = bind_once(
            F.struct(
                F.array_distinct(ta).alias("da"), F.array_distinct(tb).alias("db")
            ),
            lambda d: set_jaccard(d["da"], d["db"]),
        )
        subset = (F.size(F.array_except(ta, tb)) == 0) | (
            F.size(F.array_except(tb, ta)) == 0
        )
        return F.struct(
            lev.alias("ratio_edit_distance"),
            jac.alias("jaccard"),
            subset.alias("_subset"),
            (F.size(ta) != F.size(tb)).alias("_diffcount"),
        )

    feats = bind_once(
        F.struct(F.split(na, " ").alias("ta"), F.split(nb, " ").alias("tb")), _feats
    )
    # the inline select APPENDS its columns: drop earlier copies of
    # every output (re-scoring a scored frame) or later references are
    # ambiguous — and a re-scored frame keeps the fresh column order
    out = pairs.drop(*_OUTPUT_COLS).select("*", F.inline(F.array(feats))).withColumn(
        "jaro_winkler", jw
    )
    string_score = (
        0.45 * F.col("jaro_winkler")
        + 0.30 * (1.0 - F.col("ratio_edit_distance"))
        + 0.25 * F.col("jaccard")
    )
    if {"emb_a", "emb_b"} <= set(pairs.columns):
        out = out.withColumn(
            "cosine",
            F.when(
                F.col("emb_a").isNotNull() & F.col("emb_b").isNotNull(),
                cosine_sim("emb_a", "emb_b"),
            ),
        )
        emb_score = (
            0.35 * F.col("jaro_winkler")
            + 0.25 * (1.0 - F.col("ratio_edit_distance"))
            + 0.20 * F.col("jaccard")
            + 0.20 * F.col("cosine")
        )
        # pairs with a missing cached embedding fall back to the
        # string-only score instead of poisoning the decision with null
        score = F.when(F.col("cosine").isNotNull(), emb_score).otherwise(string_score)
    else:
        score = string_score

    subset = F.col("_subset")

    # must-link is the reference's ratio rule ALONE
    # (ratio_edit_distance < 0.2, s03_dataset_creator.json:44). Two
    # earlier broader rules both over-merged and were retired after
    # cluster audits: token-SET subset (round 1 — {juniper, raven} ⊂
    # {juniper, raven, willow} bridges entities) and unconditional
    # token-boundary PREFIX (round 2 at scale — a shortening with
    # SEVERAL completions, e.g. "alpha bravo" from two "alpha bravo
    # …" entities, transitively welds every completion into one
    # mega-cluster: observed 188 components where ~24k were gold).
    must_link = F.col("ratio_edit_distance") < MUST_LINK_RATIO

    # PARTIAL pairs — a token-set subset with DIFFERENT token counts
    # that is not a must-link ("falcon" ⊆ "falcon krypton",
    # "alpha bravo" ⊆ "alpha bravo xenon") — are inherently
    # AMBIGUOUS: the short side could complete to several entities,
    # and its distinct-token jaccard is inflated by construction
    # (often 1.0), so letting the generic score threshold hard-match
    # it bridges entities. Partials NEVER hard-match; each short side
    # links to its TOP-1 completion like the reference's alias-table
    # prior rank (prior_rank = 1 wins, s02:434-440) via
    # abbreviation_edges — which resolves a UNIQUE completion
    # identically to a would-be prefix must-link — optionally
    # re-ranked per occurrence by context (context_disambig).
    # EQUAL-count subsets (word swaps "granite ember"↔"ember
    # granite", or duplicate-token degenerates) are NOT shortenings —
    # they stay on the plain score path.
    is_partial = subset & ~must_link & F.col("_diffcount")
    return (
        out.withColumn("score", score.cast("double"))
        .withColumn("must_link", must_link)
        .withColumn("is_partial", is_partial)
        .withColumn("is_match", F.col("must_link") | ((F.col("score") >= threshold) & ~is_partial))
        .drop("_subset", "_diffcount")
    )


def with_embeddings(pairs: DataFrame, embeddings: DataFrame) -> DataFrame:
    """Attach cached embeddings to a candidate-pair frame as `emb_a` /
    `emb_b` (left joins on (snapshot_ts, id_a|id_b) — a pair without a
    cached vector keeps null and score_pairs falls back to the string
    score). `embeddings` is (snapshot_ts, surface, embedding) keyed by
    the NORMALIZED surface. The batch pipeline and the incremental
    ingest both call this, so their scores agree bit-for-bit.

    The table is reduced to one row per (snapshot_ts, surface) first:
    a caller deriving norm-keyed embeddings from the surface
    vocabulary gets several rows per norm, and a duplicated build side
    would FAN OUT the pair table through the joins. The survivor is
    the smallest vector (`min`), a choice row order cannot change —
    keeping whichever duplicate arrived first would let two runs over
    the same table score one pair differently.

    Join strategy is deliberately left to Catalyst/AQE: at reference
    scale the embedding table is TBs (BASELINE.md — 2.2 TB of 1024-d
    fp32), far past any broadcast threshold, so an unconditional
    F.broadcast here would OOM the driver; when one snapshot's
    vocabulary IS small, AQE converts the shuffle join to broadcast at
    runtime.
    """
    emb = embeddings.groupBy("snapshot_ts", "surface").agg(F.min("embedding").alias("embedding"))
    ea = emb.select("snapshot_ts", F.col("surface").alias("id_a"), F.col("embedding").alias("emb_a"))
    eb = emb.select("snapshot_ts", F.col("surface").alias("id_b"), F.col("embedding").alias("emb_b"))
    return pairs.join(ea, ["snapshot_ts", "id_a"], "left").join(eb, ["snapshot_ts", "id_b"], "left")


def anchored_partial_sources(scored: DataFrame) -> DataFrame:
    """Surfaces already must-linked to a strictly LONGER surface.

    Such a surface has a confirmed full form ("Juniper Raven" prefix-
    must-links "Juniper Raven Willow"); also giving it a prior-ranked
    partial edge to some OTHER full form would bridge two entities
    through it (the round-2 "Juniper Raven"→"Juniper Juniper Raven"
    over-merge). Token counts come from the normalized
    `norm_a`/`norm_b`. Returns (snapshot_ts, surface) to anti-join."""
    sa, sb = F.size(F.split("norm_a", " ")), F.size(F.split("norm_b", " "))
    ml = scored.filter(F.col("must_link"))
    shorter_a = ml.filter(sa < sb).select("snapshot_ts", F.col("id_a").alias("surface"))
    shorter_b = ml.filter(sb < sa).select("snapshot_ts", F.col("id_b").alias("surface"))
    return shorter_a.unionByName(shorter_b).distinct()


def abbreviation_edges(scored: DataFrame) -> DataFrame:
    """Resolve PARTIAL pairs (token-subset ambiguity, incl. single-
    token abbreviations): each unanchored short side links to exactly
    one full-form candidate — ranked by the candidate's mention
    FREQUENCY (`n_mentions_a`/`n_mentions_b`, the alias-table prior:
    prior_rank = 1 wins, s02_alias_table_generator.py:434-440) first,
    then string score, then deterministic id tie-break. Sources that
    already must-link to a longer surface are excluded (see
    anchored_partial_sources). Returns (snapshot_ts, id_a, id_b)
    edges to union into the clustering edge list."""
    a_is_src = F.size(F.split("norm_a", " ")) <= F.size(F.split("norm_b", " "))
    cand = scored.filter(F.col("is_partial") & ~F.col("is_match")).withColumn(
        "_src", F.when(a_is_src, F.col("id_a")).otherwise(F.col("id_b"))
    )
    anchored = anchored_partial_sources(scored).withColumnRenamed("surface", "_src")
    cand = cand.join(anchored, ["snapshot_ts", "_src"], "left_anti")
    # frequency of the FULL-FORM side (the candidate entity)
    cand = cand.withColumn(
        "_cand_freq", F.when(a_is_src, F.col("n_mentions_b")).otherwise(F.col("n_mentions_a"))
    )
    w = Window.partitionBy("snapshot_ts", "_src").orderBy(
        F.col("_cand_freq").desc(), F.col("score").desc(), F.col("id_a"), F.col("id_b")
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("snapshot_ts", "id_a", "id_b")
    )
