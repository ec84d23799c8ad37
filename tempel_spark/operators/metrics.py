"""Evaluation metrics (SURVEY.md §7 Phase 5).

* pairwise_f1 — BASELINE.json's headline correctness metric
  (pairwise F1 ≥ 0.99 vs reference clusters per snapshot), computed
  from the contingency table with n-choose-2 arithmetic: never
  materializes pairs, so it runs at any scale.
* acc_at_k — the reference's retrieval metric
  (misc_utils.py:198-242 `Stats`; acc@k for k ∈ {1,2,4,…,64}),
  re-expressed as one groupBy over a ranked-candidates table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.similarity import set_jaccard

__all__ = [
    "mean_reciprocal_rank",
    "pairwise_f1",
    "bcubed",
    "blocking_quality",
    "pr_curve",
    "eval_labeled_pairs",
    "cluster_canonical_names",
    "acc_at_k",
    "paper_stats_matrix",
    "candidate_similarity_by_cut",
    "strict_majority",
    "key_skew_profile",
]

ROUND_DP = 6  # round-before-compare digits of the rates and shares


def strict_majority(
    df: DataFrame,
    group_cols: list[str],
    cand_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per group, the candidate holding a STRICT majority: the unique
    argmax of the vote count (or summed ``weight_col``); groups whose
    top is tied are dropped entirely — a tie is no decision.

    The deterministic decision rule behind the conversation co-mention
    vote (context_disambig.disambiguate_occurrences) — factored out
    because "unique argmax else abstain" recurs in label aggregation
    (majority gold per cluster, dominant event type per session).
    One hash aggregation + one window over the already-aggregated
    groups; no self-joins, scales with the number of distinct
    (group, candidate) pairs.

    Output: group_cols…, cand_col, n_votes (long / weight sum).
    """
    agg = (
        F.count(F.lit(1)) if weight_col is None else F.sum(weight_col)
    ).alias("n_votes")
    g = df.groupBy(*group_cols, cand_col).agg(agg)
    # Tie detection must be deterministic under any partitioning: a
    # float weight_col sums in a Spark-chosen order, so exact equality
    # on the raw double can flip across retries. Compare (argmax AND
    # tie count) on a 6-dp rounding — the repo-wide round-before-compare
    # rule (bm25 / tfidf / adaptive-probe costs). Integer counts pass
    # through rounding unchanged.
    cmp_votes = F.round(F.col("n_votes").cast("double"), 6)
    w = Window.partitionBy(*group_cols)
    return (
        g.withColumn("_cmp", cmp_votes)
        .withColumn("_max", F.max("_cmp").over(w))
        .withColumn(
            "_n_top",
            F.sum(F.when(F.col("_cmp") == F.col("_max"), 1).otherwise(0)).over(w),
        )
        .filter((F.col("_cmp") == F.col("_max")) & (F.col("_n_top") == 1))
        .drop("_cmp", "_max", "_n_top")
    )


def _n_choose_2(c) -> F.Column:
    return (c * (c - F.lit(1)) / F.lit(2)).cast("double")


def pairwise_f1(
    pred: DataFrame,
    gold: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """pred: (node, component [, group…]); gold: (node, gold label).
    Returns one row per group with tp/pred_pairs/gold_pairs/precision/
    recall/f1. Same-cluster pairs counted via Σ C(n,2) over the
    contingency table — O(clusters), not O(pairs)."""
    groups = group_cols or []
    # same join-key rule as bcubed: group cols on both sides are keys
    # (a node recurring across groups must not fan out), gold-only
    # group cols ride along
    shared = [c for c in groups if c in gold.columns and c in pred.columns]
    extra = [c for c in groups if c in gold.columns and c not in pred.columns]
    j = pred.join(
        gold.select("node", "gold_entity_id", *shared, *extra), ["node", *shared]
    ).localCheckpoint(eager=False)  # feeds the tp/pred/gold censuses

    cont = j.groupBy(*groups, "component", "gold_entity_id").agg(F.count(F.lit(1)).alias("n"))
    tp = cont.groupBy(*groups).agg(F.sum(_n_choose_2(F.col("n"))).alias("tp"))

    ppairs = (
        j.groupBy(*groups, "component").agg(F.count(F.lit(1)).alias("n"))
        .groupBy(*groups).agg(F.sum(_n_choose_2(F.col("n"))).alias("pred_pairs"))
    )
    gpairs = (
        j.groupBy(*groups, "gold_entity_id").agg(F.count(F.lit(1)).alias("n"))
        .groupBy(*groups).agg(F.sum(_n_choose_2(F.col("n"))).alias("gold_pairs"))
    )
    if groups:
        base = tp.join(ppairs, groups).join(gpairs, groups)
    else:
        base = tp.crossJoin(ppairs).crossJoin(gpairs)
    return base.select(
        *groups,
        "tp",
        "pred_pairs",
        "gold_pairs",
        F.when(F.col("pred_pairs") > 0, F.col("tp") / F.col("pred_pairs")).otherwise(F.lit(1.0)).alias("precision"),
        F.when(F.col("gold_pairs") > 0, F.col("tp") / F.col("gold_pairs")).otherwise(F.lit(1.0)).alias("recall"),
    ).withColumn(
        "f1",
        F.when(
            (F.col("precision") + F.col("recall")) > 0,
            2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
        ).otherwise(F.lit(0.0)),
    )


def bcubed(
    pred: DataFrame,
    gold: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """B-cubed clustering precision/recall/F1 (Bagga & Baldwin 1998)
    — the per-NODE counterpart of ``pairwise_f1``: each node n scores
    precision |C(n)∩G(n)|/|C(n)| and recall |C(n)∩G(n)|/|G(n)|,
    averaged over all nodes. Unlike the pairwise metric it rewards
    singleton clusters correctly (a node alone in both scores 1.0),
    which is why ER evaluations report both.

    Computed from the contingency table, never per node: every node
    in cell (c, g) shares the same scores, so
    B³P = Σ_cells i²/|c| / N and B³R = Σ_cells i²/|g| / N — O(cells)
    rows after one groupBy, with the cluster/gold sizes as window
    sums over the table itself. F1 is the harmonic mean of the two
    averages (the standard extended-B³ form). Scales like
    ``pairwise_f1``: one shuffle on (pred, gold), then tiny frames.
    """
    groups = group_cols or []
    # group cols present on BOTH sides join as keys (a node may recur
    # across groups — node alone would fan out); gold-only group cols
    # ride along on the select
    shared = [c for c in groups if c in gold.columns and c in pred.columns]
    extra = [c for c in groups if c in gold.columns and c not in pred.columns]
    j = pred.join(gold.select("node", "gold_entity_id", *shared, *extra), ["node", *shared])
    cont = j.groupBy(*groups, "component", "gold_entity_id").agg(F.count(F.lit(1)).alias("i"))
    wc = Window.partitionBy(*groups, "component")
    wg = Window.partitionBy(*groups, "gold_entity_id")
    cells = cont.withColumn("sc", F.sum("i").over(wc)).withColumn(
        "sg", F.sum("i").over(wg)
    )
    out = cells.groupBy(*groups).agg(
        F.sum("i").alias("n_nodes"),
        F.sum(F.col("i") * F.col("i") / F.col("sc")).alias("_wp"),
        F.sum(F.col("i") * F.col("i") / F.col("sg")).alias("_wr"),
    )
    p = F.col("_wp") / F.col("n_nodes")
    r = F.col("_wr") / F.col("n_nodes")
    return out.select(
        *groups,
        "n_nodes",
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
        F.when((p + r) > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)).alias("bcubed_f1"),
    )


def blocking_quality(
    blocks: DataFrame,
    gold: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Blocking-scheme evaluation (Christen 2012): pairs completeness
    PC = matched candidates / gold pairs (the recall ceiling any
    downstream matcher inherits), pair quality PQ = matched / generated
    (blocking precision), reduction ratio RR = 1 − generated / C(N,2).

    ``blocks`` must be a DISJOINT assignment — exactly one row per
    node (the hyperplane-bucket / SimHash / exact-key families). Under
    that invariant blocks partition the node set, so every count is a
    Σ C(n,2) over the (block, gold) contingency table — O(cells) after
    one hash aggregation, candidate pairs are NEVER materialized (at
    10^9 nodes per block family the pair list is the thing you cannot
    afford; the reference only ever logs per-bucket totals,
    s03:491-501). Multi-key families (LSH bands, sorted-neighborhood)
    emit overlapping pairs — dedupe them through ``candidate_pairs``
    and score the pair list with ``eval_labeled_pairs`` instead.

    Nodes missing from ``gold`` (partial labeling, the common ER
    case) still count toward n_nodes / cand_pairs / RR — they cost
    candidates whether or not anyone labeled them — but not toward
    matched/gold pairs: PC stays exact on the labeled subset, PQ
    becomes the known-match fraction of all candidates (a lower
    bound under partial coverage).

    Output: group_cols…, n_nodes, cand_pairs, matched_pairs,
    gold_pairs, pairs_completeness, pair_quality, reduction_ratio.
    """
    groups = group_cols or []
    shared = [c for c in groups if c in gold.columns and c in blocks.columns]
    extra = [c for c in groups if c in gold.columns and c not in blocks.columns]
    # LEFT join: nodes without a gold label still cost candidate pairs
    # (cand_pairs / n_nodes / RR count them); they are excluded from
    # matched_pairs and gold_pairs, so with PARTIAL gold coverage PQ is
    # the known-match fraction of all candidates (a lower bound) while
    # PC stays exact over the labeled subset. Grouping by a gold-side
    # column (`extra`) puts unlabeled nodes in a NULL group — use full
    # coverage when grouping that way.
    j = blocks.join(
        gold.select("node", "gold_entity_id", *shared, *extra), ["node", *shared], "left"
    )
    cont = j.groupBy(*groups, "block", "gold_entity_id").agg(
        F.count(F.lit(1)).alias("i")
    ).localCheckpoint(eager=False)  # feeds labeled AND the candidate census
    labeled = cont.filter(F.col("gold_entity_id").isNotNull())
    matched = labeled.groupBy(*groups).agg(
        F.sum(_n_choose_2(F.col("i"))).alias("matched_pairs")
    )
    cand = (
        cont.groupBy(*groups, "block").agg(F.sum("i").alias("n"))
        .groupBy(*groups)
        .agg(
            F.sum(_n_choose_2(F.col("n"))).alias("cand_pairs"),
            F.sum("n").alias("n_nodes"),
        )
    )
    gpairs = (
        labeled.groupBy(*groups, "gold_entity_id").agg(F.sum("i").alias("n"))
        .groupBy(*groups)
        .agg(F.sum(_n_choose_2(F.col("n"))).alias("gold_pairs"))
    )
    if groups:
        base = cand.join(matched, groups, "left").join(gpairs, groups, "left")
    else:
        base = cand.crossJoin(matched).crossJoin(gpairs)
    base = base.withColumn(
        "matched_pairs", F.coalesce(F.col("matched_pairs"), F.lit(0))
    ).withColumn("gold_pairs", F.coalesce(F.col("gold_pairs"), F.lit(0)))
    total = _n_choose_2(F.col("n_nodes"))
    return base.select(
        *groups,
        "n_nodes",
        "cand_pairs",
        "matched_pairs",
        "gold_pairs",
        F.when(F.col("gold_pairs") > 0, F.col("matched_pairs") / F.col("gold_pairs"))
        .otherwise(F.lit(1.0))
        .alias("pairs_completeness"),
        F.when(F.col("cand_pairs") > 0, F.col("matched_pairs") / F.col("cand_pairs"))
        .otherwise(F.lit(1.0))
        .alias("pair_quality"),
        F.when(total > 0, F.lit(1.0) - F.col("cand_pairs") / total)
        .otherwise(F.lit(1.0))
        .alias("reduction_ratio"),
    )


def pr_curve(
    pairs: DataFrame,
    decimals: int = 3,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Precision-recall curve for a pairwise matcher over (score,
    is_match) pairs: one row per distinct score threshold t with
    precision/recall of the decision ``score >= t`` — the report that
    picks the operating threshold (the reference tunes its must-link
    ratio the same way, by eye on scored-pair distributions; this
    makes it one operator).

    Scores are rounded to ``decimals`` FIRST, so the curve has at most
    ~2·10^decimals points: the per-threshold aggregation is a plain
    hash agg over all pairs (partially aggregable), and only the
    already-tiny threshold table goes through the cumulative window —
    the one ordered window never sees pair-scale data, which is what
    lets this run over 10^12 scored pairs. Output: group_cols…,
    threshold, n_pairs, n_pos, precision, recall (6 dp, the repo's
    round-before-compare determinism rule)."""
    groups = group_cols or []
    # NULL scores (e.g. a null embedding upstream of the scorer) would
    # group into a threshold=NULL row that sorts last and absorbs all
    # pairs into a bogus final operating point — a pair with no score
    # is not a decision the curve can describe, so drop it.
    pairs = pairs.filter(F.col("score").isNotNull())
    agg = pairs.groupBy(
        *groups, F.round(F.col("score"), decimals).alias("threshold")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("is_match").cast("long")).alias("n_pos"),
    )
    w = (
        Window.partitionBy(*groups)
        .orderBy(F.col("threshold").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*groups)
    cum_pairs = F.sum("n_pairs").over(w)
    cum_pos = F.sum("n_pos").over(w)
    total_pos = F.sum("n_pos").over(tot)
    return agg.select(
        *groups,
        "threshold",
        "n_pairs",
        "n_pos",
        F.round(cum_pos / cum_pairs, 6).alias("precision"),
        F.when(total_pos > 0, F.round(cum_pos / total_pos, 6))
        .otherwise(F.lit(1.0))
        .alias("recall"),
    )


def eval_labeled_pairs(components: DataFrame, labeled_pairs: DataFrame) -> DataFrame:
    """BASELINE.json headline check, on its own terms: labeled pairs
    (snapshot_ts, mention_id_a, mention_id_b, same_entity boolean)
    scored against predicted components. Two broadcast-joinable lookups
    of the (small) component table; returns per-snapshot
    tp/fp/fn/tn + precision/recall/f1 over the LABELED pairs."""
    ca = components.select(
        "snapshot_ts",
        F.col("mention_id").alias("mention_id_a"),
        F.col("component").alias("_comp_a"),
    )
    cb = components.select(
        "snapshot_ts",
        F.col("mention_id").alias("mention_id_b"),
        F.col("component").alias("_comp_b"),
    )
    j = (
        labeled_pairs.join(ca, ["snapshot_ts", "mention_id_a"])
        .join(cb, ["snapshot_ts", "mention_id_b"])
        .withColumn("_pred", F.col("_comp_a") == F.col("_comp_b"))
    )
    agg = j.groupBy("snapshot_ts").agg(
        F.sum((F.col("_pred") & F.col("same_entity")).cast("long")).alias("tp"),
        F.sum((F.col("_pred") & ~F.col("same_entity")).cast("long")).alias("fp"),
        F.sum((~F.col("_pred") & F.col("same_entity")).cast("long")).alias("fn"),
        F.sum((~F.col("_pred") & ~F.col("same_entity")).cast("long")).alias("tn"),
    )
    p = F.when(F.col("tp") + F.col("fp") > 0, F.col("tp") / (F.col("tp") + F.col("fp"))).otherwise(F.lit(1.0))
    r = F.when(F.col("tp") + F.col("fn") > 0, F.col("tp") / (F.col("tp") + F.col("fn"))).otherwise(F.lit(1.0))
    return agg.withColumn("precision", p).withColumn("recall", r).withColumn(
        "f1",
        F.when((p + r) > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0)),
    )


def cluster_canonical_names(
    surface_components: DataFrame,
    surfaces: DataFrame,
) -> DataFrame:
    """Per (snapshot, component): the canonical entity name = most
    frequent member surface (ties → longest, then lexicographic) —
    the alias-table prior picking the display form. Output:
    (snapshot_ts, component, canonical_name, n_surfaces, n_mentions)."""
    j = surface_components.join(surfaces, ["snapshot_ts", "surface"])
    w = Window.partitionBy("snapshot_ts", "component").orderBy(
        F.col("n_mentions").desc(), F.length("surface").desc(), F.col("surface")
    )
    ranked = j.withColumn("_rn", F.row_number().over(w))
    stats = j.groupBy("snapshot_ts", "component").agg(
        F.count(F.lit(1)).alias("n_surfaces"), F.sum("n_mentions").alias("n_mentions")
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .select("snapshot_ts", "component", F.col("surface").alias("canonical_name"))
        .join(stats, ["snapshot_ts", "component"])
    )


def acc_at_k(
    candidates: DataFrame,
    ks: list[int],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """candidates: one row per (mention_id, candidate) with a ``score``
    and a ``correct`` flag. Ranks per query by score desc (ties broken by
    the correct flag *last*, matching the reference's re-sort at eval,
    s07_calculate_results_and_metrics_blink.py:220-227), then
    micro-averages hit@k per group (misc_utils.py:209-242) for each k
    in ``ks`` (the reference reports 1, 2, 4, …, 64)."""
    groups = group_cols or []
    w = Window.partitionBy(*groups, "mention_id").orderBy(F.col("score").desc(), F.col("correct").asc())
    ranked = candidates.withColumn("rank", F.row_number().over(w))
    per_query = ranked.groupBy(*groups, "mention_id").agg(
        F.min(F.when(F.col("correct"), F.col("rank"))).alias("gold_rank")
    )
    return per_query.groupBy(*groups).agg(
        F.count(F.lit(1)).alias("n_queries"),
        *[
            # when/otherwise, not a bare cast: a query whose gold never
            # appears has NULL gold_rank and must count as a miss, not
            # be silently dropped from the average (misc_utils.py:209
            # counts every query in `cnt`).
            F.avg(F.when(F.col("gold_rank") <= k, 1).otherwise(0)).alias(f"acc_at_{k}")
            for k in ks
        ],
    )


def mean_reciprocal_rank(
    ranked: DataFrame,
    queries: DataFrame | None = None,
) -> DataFrame:
    """MRR over pre-ranked retrieval output (e.g. `bm25_topk`): each
    query contributes 1/rank of its FIRST correct hit, and 0 when no
    correct hit survives the top-k cut.

    Every-query-in-the-denominator semantics require the caller to say
    what "every query" means: a retriever like `bm25_topk` emits ZERO
    rows for a query sharing no term with any document, and such
    queries are invisible to `ranked`. Pass the full query universe as
    ``queries`` (one row per query) and zero-hit queries are
    left-joined back in, contributing 0 to the average and 1 to
    n_queries. Without ``queries``, only queries PRESENT in `ranked`
    are counted — fine when the retriever guarantees output per query
    (e.g. brute-force top-k), wrong for sparse retrieval over hard
    queries.

    Output: one row, n_queries and mrr."""
    per_q = ranked.groupBy("query_id").agg(
        F.min(F.when(F.col("correct"), F.col("rank"))).alias("_gr")
    )
    if queries is not None:
        universe = queries.select("query_id").distinct()
        per_q = universe.join(per_q, ["query_id"], "left")
    return per_q.groupBy().agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.avg(F.when(F.col("_gr").isNotNull(), 1.0 / F.col("_gr")).otherwise(0.0)),
            ROUND_DP,
        ).alias("mrr"),
    )


def paper_stats_matrix(
    candidates: DataFrame,
    years: list[int],
) -> DataFrame:
    """The s08 paper-stats composition end to end: test-subset
    predictions → micro-averaged acc@64 per (category, train-year,
    test-year) → train-year × test-year pivot per category — the
    paper's Table-2 layout (s08_all_paper_stats.py:249-365,504-526;
    metric definition misc_utils.py:209-242; the reference builds it
    with four pandas groupby/pivot_table passes over the collected
    results frame).

    `years` is required (explicit pivot values keep the schema static
    — no extra discovery pass over a potentially huge predictions
    table). Output: (category, train_year, y{yyyy}...) with acc@64 in
    each test-year cell; cells with no predictions stay NULL, exactly
    like the reference's pivot_table holes."""
    test = candidates.filter(F.col("subset") == "test")
    acc = acc_at_k(test, group_cols=["category", "train_year", "test_year"], ks=[64])
    piv = (
        acc.groupBy("category", "train_year")
        .pivot("test_year", years)
        .agg(F.first("acc_at_64"))
    )
    return piv.select(
        "category",
        "train_year",
        *[F.round(F.col(f"`{y}`"), 6).alias(f"y{y}") for y in years],
    )


def candidate_similarity_by_cut(candidates: DataFrame) -> DataFrame:
    """The s07 candidate-similarity analysis end to end
    (s07_analyze_similarity_of_predicted_candidates.py:165-228): per
    mention, token-set Jaccard between CONSECUTIVE ranked candidates
    — each candidate's token list first truncated to the list-wide
    minimum length (reference min_cut_length, :195-205) — averaged
    per mention, then micro-averaged over mentions per cut and
    macro-averaged (mean of per-finetune-cut means) per cut
    (:215-228).

    One window chain + two aggregations; the reference holds a
    qid→text dict of every candidate in RAM (:150-163) — here the
    text rides the candidate row, so nothing is driver-resident.
    Output: (cut, jaccard_micro, jaccard_macro, n_mentions)."""
    # partition by the FULL evaluation key: the same mention can be
    # scored under several (cut, finetune_cut) runs, and each run's
    # candidate list must rank/lag/min-length independently
    run = ["mention_id", "cut", "finetune_cut"]
    w_m = Window.partitionBy(*run)
    w_r = Window.partitionBy(*run).orderBy("rank")
    toks_raw = F.split(F.col("cand_text"), " ")
    cand = candidates.withColumn("_ml", F.min(F.size(toks_raw)).over(w_m)).withColumn(
        "_toks", F.array_distinct(F.slice(toks_raw, 1, F.col("_ml")))
    )
    paired = cand.withColumn("_prev", F.lag("_toks").over(w_r)).filter(
        F.col("_prev").isNotNull()
    )
    per_mention = paired.groupBy(*run).agg(F.avg(set_jaccard("_toks", "_prev")).alias("_aj"))
    micro = per_mention.groupBy("cut").agg(
        F.round(F.avg("_aj"), 6).alias("jaccard_micro"),
        F.count(F.lit(1)).alias("n_mentions"),
    )
    macro = (
        per_mention.groupBy("cut", "finetune_cut")
        .agg(F.avg("_aj").alias("_ajf"))
        .groupBy("cut")
        .agg(F.round(F.avg("_ajf"), 6).alias("jaccard_macro"))
    )
    return micro.join(macro, "cut").select(
        "cut", "jaccard_micro", "jaccard_macro", "n_mentions"
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 10,
) -> DataFrame:
    """Hot-key census — the diagnostic that decides whether a join or
    groupBy on ``key_cols`` needs salting (blocking.salt_hot_blocks) or
    AQE skew splitting before it runs at scale.

    One row per top-``top_n`` key by row count (ties broken by key
    value — deterministic under any partitioning), each carrying the
    global context: rank, n_rows, share (of all rows), skew_factor
    (n_rows / mean rows-per-key), n_keys, n_total.

    Scale posture: the per-key counts are one map-side-combinable hash
    agg; the global stats are a one-row aggregate of that; the top-N is
    Spark's distributed TakeOrdered (per-partition top-N then merge —
    never a global sort), and rank/share/skew are computed on the
    ≤top_n-row result against the broadcast one-row stats frame.
    """
    key_exprs = [F.col(k) for k in key_cols]
    counts = df.groupBy(*key_exprs).agg(
        F.count(F.lit(1)).alias("n_rows")
    ).localCheckpoint(eager=False)  # feeds the stats row AND the top-N
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_rows").alias("n_total"),
        F.avg("n_rows").alias("_mean"),
    )
    order = [F.desc("n_rows"), *[F.asc(k) for k in key_cols]]
    top = counts.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)  # <= top_n rows: the tiny-frame window
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(stats))
        .select(
            "rank",
            *key_cols,
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("n_total"), ROUND_DP).alias("share"),
            F.round(F.col("n_rows") / F.col("_mean"), ROUND_DP).alias("skew_factor"),
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_total").cast("long").alias("n_total"),
        )
    )
