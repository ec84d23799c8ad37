"""End-to-end dataset assembly — the reference's s03 stage
(src/tempel_creation/s03_final_dataset_creator.py:268-1036,
misc/s03_final_dataset_creator_utils.py:518-894) re-expressed as one
declarative Spark flow over the alias-stats table:

  alias stats (quality filters, P5: `apply_quality_filters`, applied
  by the caller) ──▶
  entities present in EVERY snapshot (J5 countDistinct rewrite) ──▶
  leakage-safe subset assignment: must-link CC over surface pairs
    per entity (R5 generalized) → clusters → round-robin to
    train/val/test ──▶
  fully-covered filter (min distinct subsets across cuts == |subsets|,
    s03:327-345) ──▶
  per-(entity,cut,subset) quotas, capped (max_mentions_per_entity,
    s03:491-501) and balanced across cuts to the min-cut total via
    deterministic weighted unit reduction (V3 algorithm, s03:544-604)
    ──▶
  capped round-robin allocation of each quota across the subset's
    surfaces (O6, s03_utils:160-169) ──▶
  deterministic instance pick from the mention-occurrence table (R4)
    + context windows (F14) + per-(cut,subset) fan-out sink (S8).

Reference invariants preserved (asserted in
tests/test_dataset_creator.py):
  * per-subset totals EQUAL across cuts after balancing
    (assert at s03:580-604 / 1009-1033);
  * no duplicate (entity, cut, subset) quota tuples
    (s03_utils:141-143);
  * every adjusted quota > 0 (s03:594-596) and ≤ availability
    (s03:608-610);
  * must-linked surfaces (edit-ratio < τ OR whole-word containment,
    s03_utils:611-665) always share a subset.

Scale posture: every stage is a groupBy/window over the alias-stats
table (vocabulary-sized, not occurrence-sized); the only touch of the
10^12-row mention table is the final instance pick, a hash-rank
filter joined against the (small) allocation table — broadcastable.
Unlike the reference there is no driver-side per-cut loop: all cuts
flow through one plan and the min-across-cuts scalars are tiny
aggregates joined back (A7 two-phase pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tempel_spark.functions.hashing import hash_uniform, md5_uniform
from tempel_spark.functions.similarity import levenshtein_ratio
from tempel_spark.functions.text import whole_word_contains
from tempel_spark.operators.balance import capped_round_robin_alloc
from tempel_spark.operators.clustering import NODE_SEP, connected_components
from tempel_spark.functions.text import context_window

__all__ = [
    "apply_quality_filters",
    "entities_in_all_snapshots",
    "assign_subsets_leakage_safe",
    "keep_fully_covered",
    "balanced_quotas",
    "balanced_quotas_positional",
    "assign_birth_cut",
    "equalize_entity_counts",
    "allocate_mentions",
    "select_mention_instances",
    "stats_from_pipeline",
    "create_dataset",
    "create_new_entities_dataset",
]


def stats_from_pipeline(pipeline_out: dict) -> DataFrame:
    """Bridge the ER pipeline's artifacts into this plan's alias-stats
    shape: entity_id = the resolved cluster (the reference's
    qid-analogue once linking has run), surface frequency = nr_links.
    This is the reference's own composition — s03 consumes s02's
    per-(mention, entity) link stats, which are exactly
    (surface, cluster, count) after resolution."""
    res = pipeline_out
    return (
        res["surfaces"]
        .join(res["surface_components"], ["snapshot_ts", "surface"])
        .select(
            F.col("component").alias("entity_id"),
            "snapshot_ts",
            "surface",
            F.col("n_mentions").alias("nr_links"),
        )
    )


DEFAULT_SUBSETS = ("train", "validation", "test")
SEED = 42  # hash seed of every deterministic draw (balancing, instance pick)


def apply_quality_filters(stats: DataFrame, filters: dict) -> DataFrame:
    """P5: config-driven range predicates (s03_utils:518-608 /
    s03_dataset_creator.json:33-49). `filters` maps a stats column to
    ("min"|"max", value); unknown columns raise (a silent typo in a
    filter config must not silently widen the dataset)."""
    missing = [c for c, _ in filters.items() if c not in stats.columns]
    if missing:
        raise ValueError(f"filter columns not in stats: {missing}")
    out = stats
    for col, (kind, value) in filters.items():
        if kind == "min":
            out = out.filter(F.col(col) >= F.lit(value))
        elif kind == "max":
            out = out.filter(F.col(col) <= F.lit(value))
        else:
            raise ValueError(f"filter kind must be min|max, got {kind!r}")
    return out


def entities_in_all_snapshots(stats: DataFrame) -> DataFrame:
    """J5 rewrite: entities present in every cut — ONE countDistinct
    aggregate instead of the reference's 10 chained inner joins
    (s03:219-224). Returns the filtered stats (inner join against the
    qualifying entity ids, broadcast — the survivor list is small).

    A NULL snapshot_ts is not a cut: countDistinct would skip it, so
    the query fails on one (raised lazily, when it runs)."""
    stats = stats.withColumn(
        "snapshot_ts",
        F.coalesce("snapshot_ts", F.raise_error(F.lit("entities_in_all_snapshots: NULL snapshot_ts"))),
    )
    # stats is read up to three times (snapshot census, keep agg, join)
    stats = stats.localCheckpoint(eager=False)
    per_entity = stats.groupBy("entity_id").agg(
        F.countDistinct("snapshot_ts").alias("_n_cuts")
    )
    # snapshot census as a LAZY 1-row broadcast instead of an eager
    # distinct().count() at construction time: the census rides the
    # query's own job rather than a separate driver-serial job per
    # query build (same value: no NULL cuts)
    census = stats.agg(F.countDistinct("snapshot_ts").alias("_tot"))
    keep = per_entity.crossJoin(F.broadcast(census)).filter(
        F.col("_n_cuts") == F.col("_tot")
    )
    return stats.join(F.broadcast(keep.select("entity_id")), "entity_id")


def assign_subsets_leakage_safe(
    stats: DataFrame,
    subsets: tuple[str, ...] = DEFAULT_SUBSETS,
    must_link_ratio: float = 0.2,
    containment_links: bool = True,
) -> DataFrame:
    """Leakage-controlled subset assignment (R5,
    s03_utils:611-665 put_mention_in_cluster): two surfaces of the
    same entity that are near-identical (ratio_edit_distance_v2 <
    must_link_ratio) or whole-word-contained in each other MUST land
    in the same train/val/test subset, or the splits leak.

    The reference does this with a sequential greedy set loop per
    entity; the declarative equivalent is transitive closure: must-
    link pairs are edges, connected components are the reference's
    clusters (greedy must-link IS a transitive closure — if a~b and
    b~c they all end up in b's cluster). Cluster→subset assignment is
    round-robin over clusters ranked by (total links desc, cluster
    id): deterministic, balanced in cluster count, SQL-checkable —
    where the reference uses least-loaded-after-random-shuffle, which
    its own README concedes is irreproducible (README.md:126-128).

    Input needs (entity_id, snapshot_ts, surface, nr_links).
    Output: input + (cluster, subset).
    """
    # Pin the input and each multi-consumed stage (lazy localCheckpoint,
    # alias-stats scale): this function references `stats` twice (surf
    # + the keyed join-back), `surf` three times and `clusters` twice,
    # and the embedded CC runs eager signature jobs — without the pins
    # every reference re-derives the whole upstream chain (measured:
    # q_dataset_balance's plan carried 128 copies of the orders scan;
    # guide §3.3 "materialise an intermediate to truncate the plan").
    stats = stats.localCheckpoint(eager=False)
    # distinct surfaces per entity ACROSS cuts — the reference's
    # cluster dict persists across the entity's rows over all cuts
    surf = stats.groupBy("entity_id", "surface").agg(
        F.sum("nr_links").alias("_links")
    ).localCheckpoint(eager=False)

    if must_link_ratio <= 0.0 and not containment_links:
        # Provably empty edge set: levenshtein_ratio is nonnegative by
        # construction (levenshtein / greatest(len, 1) ≥ 0, NULL rows
        # are dropped by the filter), so `ratio < 0.0` never links and
        # there are no containment links — every surface is its own
        # singleton cluster, and a singleton's CC component id IS the
        # node (min of a one-node set). Emit the identical clustering
        # directly instead of running the per-entity surface self-join
        # + levenshtein over every pair just to produce zero edges
        # (the q_dataset_* queries pass ratio 0.0; measured ~1.3 s of
        # wasted pair scoring per query at sf1.0).
        clusters = surf.select(
            "entity_id", "surface", F.col("surface").alias("cluster")
        ).localCheckpoint(eager=False)
    else:
        a = surf.select(F.col("entity_id"), F.col("surface").alias("s_a"))
        b = surf.select(F.col("entity_id"), F.col("surface").alias("s_b"))
        pairs = a.join(b, "entity_id").filter(F.col("s_a") < F.col("s_b"))
        ratio = levenshtein_ratio(F.lower("s_a"), F.lower("s_b"))
        link = ratio < F.lit(must_link_ratio)
        if containment_links:
            link = link | whole_word_contains(F.lower("s_a"), F.lower("s_b")) | whole_word_contains(
                F.lower("s_b"), F.lower("s_a")
            )
        edges = pairs.filter(link).select(
            F.concat_ws(NODE_SEP, "entity_id", "s_a").alias("id_a"),
            F.concat_ws(NODE_SEP, "entity_id", "s_b").alias("id_b"),
        )
        nodes = surf.select(F.concat_ws(NODE_SEP, "entity_id", "surface").alias("node"))
        cc = connected_components(edges, nodes=nodes, shuffle_partitions=8).components

        clusters = cc.select(
            F.split_part("node", F.lit(NODE_SEP), F.lit(1)).alias("entity_id"),
            F.split_part("node", F.lit(NODE_SEP), F.lit(2)).alias("surface"),
            F.split_part("component", F.lit(NODE_SEP), F.lit(2)).alias("cluster"),
        ).localCheckpoint(eager=False)
    # cluster weight = total links; big clusters assigned first
    # (rank 1 → subsets[0] = train, the reference's prefer_train)
    joined = surf.join(clusters, ["entity_id", "surface"])
    cweight = joined.groupBy("entity_id", "cluster").agg(F.sum("_links").alias("_cw"))
    w = Window.partitionBy("entity_id").orderBy(F.col("_cw").desc(), F.col("cluster"))
    sub_expr = F.array(*[F.lit(s) for s in subsets])[
        F.pmod(F.dense_rank().over(w) - 1, F.lit(len(subsets)))
    ]
    assignment = cweight.withColumn("subset", sub_expr).select("entity_id", "cluster", "subset")

    # entity_id in stats may be any type; cast key for the join back
    keyed = stats.withColumn("_ek", F.col("entity_id").cast("string"))
    return (
        keyed.join(
            clusters.withColumnRenamed("entity_id", "_ek"), ["_ek", "surface"]
        )
        .join(
            assignment.withColumnRenamed("entity_id", "_ek"), ["_ek", "cluster"]
        )
        .drop("_ek")
    )


def keep_fully_covered(
    assigned: DataFrame, n_subsets: int = len(DEFAULT_SUBSETS)
) -> DataFrame:
    """Keep entities whose MIN-across-cuts distinct-subset count equals
    |subsets| (s03:327-345): every cut must contribute to every
    subset, or per-cut evaluation tables go empty."""
    # consumed twice (cover agg + join-back) — pin so the upstream
    # assignment chain is derived once
    assigned = assigned.localCheckpoint(eager=False)
    cover = (
        assigned.groupBy("entity_id", "snapshot_ts")
        .agg(F.countDistinct("subset").alias("_ns"))
        .groupBy("entity_id")
        .agg(F.min("_ns").alias("_min_ns"))
        .filter(F.col("_min_ns") == n_subsets)
        .select("entity_id")
    )
    return assigned.join(F.broadcast(cover), "entity_id")


def _capped_counts(assigned: DataFrame, max_mentions_per_entity: int) -> DataFrame:
    """(entity_id, snapshot_ts, subset, _n): the link total of each
    (entity, cut, subset), capped at ``max_mentions_per_entity``
    (0 = uncapped)."""
    n0 = assigned.groupBy("entity_id", "snapshot_ts", "subset").agg(
        F.sum("nr_links").alias("_n")
    )
    if max_mentions_per_entity > 0:
        n0 = n0.withColumn("_n", F.least(F.col("_n"), F.lit(max_mentions_per_entity)))
    return n0


def _unit_race(d: DataFrame, tag: str | None = None) -> DataFrame:
    """The deterministic weighted unit race both V3 balancers end in.
    Every row of ``d`` (entity_id, snapshot_ts, subset, _n, _diff,
    _reduce) offers ``_diff`` removable units; per (subset, cut) the
    ``_reduce`` units with the smallest md5 race key
    "[tag:]entity:cut:subset:unit" (ties: entity id, unit) are removed.
    Output: (entity_id, snapshot_ts, subset, quota = _n − removed)."""
    # unit multiset: one row per removable unit
    units = d.filter(F.col("_diff") > 0).select(
        "entity_id",
        "snapshot_ts",
        "subset",
        "_reduce",
        F.posexplode(F.sequence(F.lit(1), F.col("_diff"))).alias("_pos", "_unit"),
    )
    key = [
        F.col("entity_id").cast("string"),
        F.col("snapshot_ts").cast("string"),
        "subset",
        F.col("_unit").cast("string"),
    ]
    race = md5_uniform(F.concat_ws(":", *([F.lit(tag)] if tag else []), *key), seed=SEED)
    w_units = Window.partitionBy("subset", "snapshot_ts").orderBy(
        race.asc(), F.col("entity_id").cast("string").asc(), F.col("_unit").asc()
    )
    dropped = (
        units.withColumn("_urn", F.row_number().over(w_units))
        .filter(F.col("_urn") <= F.col("_reduce"))
        .groupBy("entity_id", "snapshot_ts", "subset")
        .agg(F.count(F.lit(1)).alias("_removed"))
    )
    return d.join(dropped, ["entity_id", "snapshot_ts", "subset"], "left").select(
        "entity_id",
        "snapshot_ts",
        "subset",
        (F.col("_n") - F.coalesce("_removed", F.lit(0))).cast("long").alias("quota"),
    )


def balanced_quotas(
    assigned: DataFrame,
    max_mentions_per_entity: int = 500,
) -> DataFrame:
    """The V3 balancing algorithm (s03:430-604): per (entity, cut,
    subset) quota = capped link total, then every cut is reduced to
    the subset's MIN-cut total by removing units weighted by each
    entity's surplus over its own min cut.

    Differences from the reference, both deliberate:
      * units are removed per ENTITY (surplus = n − min-across-cuts(n)
        for the same entity), not per positional rank row — positional
        pairing only exists because pandas aligned ranked rows; entity
        pairing preserves the same invariants (totals equal across
        cuts, every quota ≥ its own min-cut value ≥ 1) and is
        meaningful;
      * the unit sampler is a deterministic md5 race, not
        random.sample (R3 discipline).

    max_mentions_per_entity defaults to the reference's production cap
    (500, s03_dataset_creator.json:50-88) and bounds the unit-race
    explosion: each entity contributes ≤ cap units per (cut, subset),
    so the multiset is vocabulary-scale.  Pass 0 to disable only on
    corpora where per-entity surpluses are known to be bounded — a
    Zipf-hot entity's uncapped surplus is occurrence-scale.

    Output: (entity_id, snapshot_ts, subset, quota).
    """
    n0 = _capped_counts(assigned, max_mentions_per_entity)

    w_es = Window.partitionBy("entity_id", "subset")
    w_sc = Window.partitionBy("subset", "snapshot_ts")
    w_s = Window.partitionBy("subset")

    d = (
        n0.withColumn("_n_min_entity", F.min("_n").over(w_es))
        .withColumn("_diff", F.col("_n") - F.col("_n_min_entity"))
        .withColumn("_total", F.sum("_n").over(w_sc))
        .localCheckpoint(eager=False)  # feeds targets AND the target join
    )
    targets = (
        d.groupBy("subset", "snapshot_ts")
        .agg(F.first("_total").alias("_t"))
        .groupBy("subset")
        .agg(F.min("_t").alias("_target"))
    )
    d = d.join(F.broadcast(targets), "subset").withColumn(
        "_reduce", F.col("_total") - F.col("_target")
    ).localCheckpoint(eager=False)  # consumed by units AND the final join

    return _unit_race(d)


def allocate_mentions(assigned: DataFrame, quotas: DataFrame) -> DataFrame:
    """O6: distribute each (entity, cut, subset) quota across that
    subset's surfaces, each bounded by its nr_links — exact closed
    form of the reference's one-at-a-time loop
    (capped_round_robin_alloc). Output rows with n_to_extract ≥ 1."""
    caps = assigned.groupBy("entity_id", "snapshot_ts", "subset", "surface").agg(
        F.sum("nr_links").alias("_cap")
    )
    j = caps.join(quotas, ["entity_id", "snapshot_ts", "subset"])
    out = capped_round_robin_alloc(
        j,
        group_cols=["entity_id", "snapshot_ts", "subset"],
        cap_col="_cap",
        quota_col="quota",
        order_col="surface",
        alloc_col="n_to_extract",
    )
    return out.filter(F.col("n_to_extract") > 0).select(
        "entity_id", "snapshot_ts", "subset", "surface", "_cap", "quota", "n_to_extract"
    ).withColumnRenamed("_cap", "nr_links")


def assign_birth_cut(
    stats: DataFrame, created: DataFrame, snapshots: list[str]
) -> DataFrame:
    """NEW-entity scoping (s03:621-684): an entity belongs to the cut
    whose window (prev_cut, cut] contains its creation time, and only
    its rows IN that cut survive. created: (entity_id, created_ts)."""
    from tempel_spark.operators.asof import assign_snapshot

    birth = assign_snapshot(created, "created_ts", snapshots).select(
        "entity_id", F.col("snapshot_ts").alias("_birth_cut")
    )
    return (
        stats.join(F.broadcast(birth), "entity_id")
        .filter(F.col("snapshot_ts") == F.col("_birth_cut"))
        .drop("_birth_cut")
    )


def equalize_entity_counts(
    assigned: DataFrame, portable_hash: bool = False
) -> DataFrame:
    """s03:845-883: every cut keeps the same number of NEW entities —
    cuts above the minimum are downsampled. Deterministic hash-rank
    sample (the reference uses unseeded df.sample; R1 discipline).
    portable_hash=True ranks by md5 instead of xxhash64 so the pick is
    reproducible in ANSI-SQL oracles (q_dataset_new_balance)."""
    # `assigned` is read for per_cut AND the final join; per_cut feeds
    # an eager min() collect plus the keep rank — pin both
    assigned = assigned.localCheckpoint(eager=False)
    per_cut = assigned.select("snapshot_ts", "entity_id").distinct().localCheckpoint(
        eager=False
    )
    counts = per_cut.groupBy("snapshot_ts").agg(F.count(F.lit(1)).alias("_n"))
    min_n = counts.agg(F.min("_n").alias("m")).collect()[0]["m"]
    rank_u = (
        md5_uniform(F.col("entity_id").cast("string"), seed=SEED + 3)
        if portable_hash
        else hash_uniform("entity_id", seed=SEED + 3)
    )
    w = Window.partitionBy("snapshot_ts").orderBy(
        rank_u.asc(), F.col("entity_id").asc()
    )
    keep = (
        per_cut.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= min_n)
        .select("snapshot_ts", "entity_id")
    )
    return assigned.join(keep, ["snapshot_ts", "entity_id"])


def balanced_quotas_positional(
    assigned: DataFrame,
    max_mentions_per_entity: int = 500,
) -> DataFrame:
    """The NEW-entities V3 balancing (s03:894-1033): entities are NOT
    shared across cuts, so the surplus of a (subset, cut) row is
    measured against the SAME-RANK row of the subset's min-total cut
    (both sides ranked by capped link count desc — the reference's
    new_id positional join), then each cut is reduced to the
    min-total by the deterministic weighted unit race.

    Divergence from the reference, documented: when a cut has MORE
    ranked rows than the min cut (possible when per-subset coverage
    differs), unpaired rows may be reduced to zero and are dropped —
    the reference's inner positional join silently assumes equal rank
    counts (its assert would fail otherwise). Totals per (subset,
    cut) land EXACTLY on the subset minimum either way.

    Output: (entity_id, snapshot_ts, subset, quota ≥ 1).
    """
    n0 = _capped_counts(assigned, max_mentions_per_entity)

    w_rank = Window.partitionBy("subset", "snapshot_ts").orderBy(
        F.col("_n").desc(), F.col("entity_id").cast("string").asc()
    )
    d = n0.withColumn("_rank", F.row_number().over(w_rank)).withColumn(
        "_total", F.sum("_n").over(Window.partitionBy("subset", "snapshot_ts"))
    ).localCheckpoint(eager=False)  # feeds tot, ref_rank AND the join chain
    # the subset's min-total cut and its per-rank values
    tot = d.select("subset", "snapshot_ts", "_total").distinct()
    w_min = Window.partitionBy("subset").orderBy(
        F.col("_total").asc(), F.col("snapshot_ts").cast("string").asc()
    )
    min_cut = (
        tot.withColumn("_mr", F.row_number().over(w_min))
        .filter(F.col("_mr") == 1)
        .select(
            F.col("subset").alias("_ms"),
            F.col("snapshot_ts").alias("_min_cut"),
            F.col("_total").alias("_target"),
        )
    )
    ref_rank = (
        d.join(
            min_cut,
            (F.col("subset") == F.col("_ms")) & (F.col("snapshot_ts") == F.col("_min_cut")),
        )
        .select("subset", "_rank", F.col("_n").alias("_n_ref"))
    )
    d = (
        d.join(F.broadcast(min_cut.withColumnRenamed("_ms", "subset")), "subset")
        .join(F.broadcast(ref_rank), ["subset", "_rank"], "left")
        .withColumn(
            "_diff",
            F.when(
                F.col("snapshot_ts") == F.col("_min_cut"), F.lit(0)
            ).otherwise(
                # unpaired ranks (no min-cut twin) may go to zero
                F.greatest(F.col("_n") - F.coalesce("_n_ref", F.lit(0)), F.lit(0))
            ).cast("long"),
        )
        .withColumn("_reduce", F.col("_total") - F.col("_target"))
        .localCheckpoint(eager=False)  # consumed by units AND the final join
    )
    return _unit_race(d, tag="new").filter(F.col("quota") > 0)


def create_new_entities_dataset(
    stats: DataFrame,
    created: DataFrame,
    snapshots: list[str],
    containment_links: bool = True,
    max_mentions_per_entity: int = 500,
) -> dict[str, DataFrame]:
    """The reference's NEW-entities category (s03:616-1036): entities
    scoped to their birth cut, per-cut entity counts equalized, then
    quotas for the DEFAULT_SUBSETS balanced across cuts positionally.
    Same downstream allocation as the continual flow; a caller that
    wants quality filters or the instance pick composes
    `apply_quality_filters` / `select_mention_instances` itself."""
    scoped = assign_birth_cut(stats, created, snapshots)
    assigned = assign_subsets_leakage_safe(
        scoped, DEFAULT_SUBSETS, containment_links=containment_links
    )
    covered = keep_fully_covered(assigned, n_subsets=len(DEFAULT_SUBSETS))
    equalized = equalize_entity_counts(covered)
    quotas = balanced_quotas_positional(equalized, max_mentions_per_entity)
    return {
        "scoped": scoped,
        "assigned": assigned,
        "covered": covered,
        "equalized": equalized,
        "quotas": quotas,
        "allocations": allocate_mentions(equalized, quotas),
    }


def select_mention_instances(
    mentions: DataFrame,
    allocations: DataFrame,
) -> DataFrame:
    """R4 + F14: pick exactly n_to_extract occurrences per
    (snapshot, subset, surface) by deterministic hash rank (the
    reference shuffles anchor pages and takes the first n,
    s03_utils:62-65,184), then cut 100-character left/right context
    windows around the span (s03_utils:70-91).

    mentions: occurrence table (snapshot_ts, surface, mention_id,
    text, span_start) — 10^12-scale; the allocation table is small →
    broadcast join, and the rank window partitions by (snapshot,
    surface), which is exactly the mention table's natural key
    distribution (no snapshot-wide collapse).

    Join key: if the mention table carries ``entity_id`` (the anchor
    target, as the reference's link table always does, s01:287-297)
    the join includes it, so a surface mapped to several entities in
    the alias table never fans one occurrence out to multiple
    (entity, subset) picks.  Without an ``entity_id`` column the
    caller must guarantee one entity per (snapshot_ts, surface) —
    true for stats_from_pipeline, whose surfaces are cluster
    representatives — and a duplicate allocation key raises."""
    al = allocations.select("entity_id", "snapshot_ts", "subset", "surface", "n_to_extract")
    if "entity_id" in mentions.columns:
        m = mentions.join(F.broadcast(al), ["snapshot_ts", "surface", "entity_id"])
    else:
        # lazy in-plan guard, keyed exactly like the join below: a
        # surface mapped to >1 entity ANYWHERE in the snapshot (even
        # across subsets) would fan one occurrence into several
        # (entity, subset) picks, so it must raise at action time.
        # The assertion is woven into n_to_extract so column pruning
        # can't elide it, and no eager job runs at plan-build time.
        amb = al.groupBy("snapshot_ts", "surface").agg(
            F.countDistinct("entity_id").alias("_n_ent")
        )
        chk = F.assert_true(
            F.col("_n_ent") == 1,
            F.lit(
                "select_mention_instances: allocations map one surface to "
                "multiple entities but the mention table has no entity_id "
                "column to disambiguate; add entity_id to `mentions`"
            ),
        )
        al = (
            al.join(amb, ["snapshot_ts", "surface"])
            .select(
                "entity_id", "snapshot_ts", "subset", "surface",
                F.when(chk.isNull(), F.col("n_to_extract")).alias("n_to_extract"),
            )
        )
        m = mentions.join(F.broadcast(al), ["snapshot_ts", "surface"])
    w = Window.partitionBy("snapshot_ts", "subset", "surface", "entity_id").orderBy(
        hash_uniform("mention_id", seed=SEED).asc(), F.col("mention_id").asc()
    )
    picked = m.withColumn("_irn", F.row_number().over(w)).filter(
        F.col("_irn") <= F.col("n_to_extract")
    )
    left, right = context_window("text", F.col("span_start") + 1, 100)
    return picked.select(
        "snapshot_ts",
        "subset",
        "entity_id",
        "surface",
        "mention_id",
        left.alias("context_left"),
        right.alias("context_right"),
    )


def create_dataset(
    stats: DataFrame,
    mentions: DataFrame | None = None,
    subsets: tuple[str, ...] = DEFAULT_SUBSETS,
    containment_links: bool = True,
    max_mentions_per_entity: int = 500,
    fanout_path: str | None = None,
) -> dict[str, DataFrame]:
    """The composed s03 plan over already-filtered stats (a caller
    with quality filters applies `apply_quality_filters` first); the
    entities kept are those present in every cut the stats hold.
    Returns every stage (for checkpointing / inspection); optionally
    fan-out-writes the final mention rows per (snapshot_ts, subset)
    like the reference's per-(cut,subset) JSONL sinks (S8).

    containment_links tunes the leakage rule to the corpus: the reference's containment link is right for Wikipedia
    aliases; over ER-resolved clusters whose members are lexically
    similar by construction it can collapse every entity into one
    subset-cluster (then keep_fully_covered drops everything) —
    disable it and/or reduce the subset count there."""
    common = entities_in_all_snapshots(stats)
    assigned = assign_subsets_leakage_safe(common, subsets, containment_links=containment_links)
    covered = keep_fully_covered(assigned, n_subsets=len(subsets))
    quotas = balanced_quotas(covered, max_mentions_per_entity)
    allocations = allocate_mentions(covered, quotas)
    out = {
        "common": common,
        "assigned": assigned,
        "covered": covered,
        "quotas": quotas,
        "allocations": allocations,
    }
    if mentions is not None:
        out["dataset_mentions"] = select_mention_instances(mentions, allocations)
        if fanout_path is not None:
            from tempel_spark.sources.sinks import write_fanout

            write_fanout(out["dataset_mentions"], fanout_path)
    return out
