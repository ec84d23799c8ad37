"""End-to-end ER pipeline over transcripts (the north_star flow):

  transcripts ──assign_snapshot──▶ snapshotted turns
      │  (per-turn text equality invariant: pass-through, stable
      │   (conv_id, turn_idx) ordering — BASELINE.json input_hint)
      ▼
  mention extraction (Column expressions, F1)
      ▼
  DISTINCT SURFACES per snapshot  ← the scale pivot: all pairwise
      │   work runs on the deduplicated surface vocabulary (grows
      │   ~log-like with corpus size), never on mention occurrences
      │   (grows linearly to 10^12). Identical surfaces are must-links
      │   by definition (edit ratio 0 < 0.2), so clustering surfaces
      │   and broadcasting the assignment back to occurrences is
      │   semantically identical to occurrence-level clustering —
      │   and turns an O(occurrences²) candidate space into
      │   O(vocabulary²-within-blocks).
      ▼
  blocking keys: normalized surface + sorted-token signature +
      MinHash-LSH bands + bipartite first-token (abbr × full)
      ▼
  candidate surface pairs (within (snapshot_ts, block_key), capped)
      ▼
  pairwise scoring (JW + levenshtein ratio + jaccard)     (Phase 3)
      ▼
  match edges → large-star/small-star connected components (Phase 4)
      ▼
  mention→cluster assignment (one hash join on (snapshot, surface))
      ▼
  temporal entity clusters per snapshot

Every stage publishes to the checkpoint catalog and the whole run is
resumable mid-pipeline (`force=False` skips published stages) — the
reference's pickle-cache pattern (s02:139-142) upgraded to
partitioned tables with lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempel_spark.functions.hashing import set_fingerprint
from tempel_spark.functions.mentions import extract_mentions
from tempel_spark.operators.asof import assign_snapshot, yearly_snapshots
from tempel_spark.operators.blocking import (
    LSH_BANDS,
    LSH_HASHES,
    candidate_pairs,
    cap_block_size,
    lsh_band_blocks,
    norm_key,
)
from tempel_spark.operators.clustering import NODE_SEP, connected_components
from tempel_spark.operators.scoring import (
    MATCH_THRESHOLD,
    abbreviation_edges,
    score_pairs,
    with_embeddings,
)
from tempel_spark.session import codegen_compiles
from tempel_spark.sources.catalog import Catalog

__all__ = [
    "run_pipeline",
    "extract_mention_table",
    "surface_vocab",
    "norm_vocab",
    "build_block_keys",
    "bipartite_first_token_pairs",
]

# shuffle width of the vocabulary-scale CC runs (batch + recluster):
# size the CC shuffle to the edge list, not to the corpus-wide default
CC_PARTITIONS = 16


def extract_mention_table(transcripts: DataFrame, snapshots: list[str]) -> DataFrame:
    """transcripts (input_hint schema) → mention rows with stable ids.

    mention_id = conv_id:turn_idx:span_start — deterministic, so every
    downstream stage (and resume) sees identical ids.
    """
    snapped = assign_snapshot(transcripts, "ts", snapshots)
    mentions = extract_mentions(snapped)
    return mentions.withColumn(
        "mention_id",
        F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"), F.col("span_start").cast("string")),
    ).withColumn("surface", F.col("mention_text"))


def surface_vocab(mentions: DataFrame) -> DataFrame:
    """Mentions → (snapshot_ts, surface, n_mentions, norm): the
    distinct surfaces per cut, their mention count and normalized key
    — `run_pipeline`'s `surfaces` stage."""
    return (
        mentions.groupBy("snapshot_ts", "surface")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn("norm", norm_key("surface"))
    )


def norm_vocab(surfaces: DataFrame) -> DataFrame:
    """`surface_vocab` rows → (snapshot_ts, norm, n_mentions): the
    distinct norms per cut, mention counts summed — `run_pipeline`'s
    `norms` stage."""
    return surfaces.groupBy("snapshot_ts", "norm").agg(F.sum("n_mentions").alias("n_mentions"))


def build_block_keys(norms: DataFrame) -> DataFrame:
    """(snapshot_ts, norm, n_mentions) → the three equi-join blocking
    key families, one row per (norm, key). Keys derive from the norm
    TEXT alone (stationary, with the fixed LSH_HASHES/LSH_BANDS), so
    incremental ingestion can key a new norm once and equi-join it
    against any existing vocabulary — streaming/incremental_er.py
    relies on this.
    """
    # order-insensitive token signature: catches token swaps
    # ("Ember Granite" ↔ "Granite Ember") norm equality misses
    sorted_key = F.array_join(F.array_sort(F.array_distinct(F.split(F.col("norm"), " "))), " ")
    stoken = norms.select(
        "snapshot_ts", "norm", "n_mentions",
        F.concat(F.lit("S:"), sorted_key).alias("block_key"),
    )
    # first-2-tokens prefix key: drop-last-token shortenings
    # ("Alpha Prairie" ↔ "Alpha Prairie Xenon") must pair
    # DETERMINISTICALLY — leaving them to LSH luck split entities
    # whenever every band missed (round-2 audit). Multi-token only;
    # single-token abbreviations go through the bipartite
    # first-token pairing (bipartite_first_token_pairs).
    ntok_all = F.size(F.split(F.col("norm"), " "))
    pfx = norms.filter(ntok_all >= 2).select(
        "snapshot_ts", "norm", "n_mentions",
        F.concat(
            F.lit("P:"), F.array_join(F.slice(F.split(F.col("norm"), " "), 1, 2), " ")
        ).alias("block_key"),
    )
    lsh = lsh_band_blocks(norms, "norm", n_hashes=LSH_HASHES, bands=LSH_BANDS, normalize=False).select(
        "snapshot_ts", "norm", "n_mentions",
        F.concat(F.lit("L"), F.col("band_id"), F.lit(":"), F.col("block_key")).alias("block_key"),
    )
    return stoken.unionByName(pfx).unionByName(lsh)


def bipartite_first_token_pairs(
    abbr_src: DataFrame, full_src: DataFrame, pair_cap: int = 200
) -> DataFrame:
    """First-token key links abbreviated norms ("falcon" ↔
    "falcon krypton prairie"). This is the Zipf-hot key, so it is
    BIPARTITE by construction: single-token abbreviations (from
    `abbr_src`) on one side × multi-token full forms (from
    `full_src`) on the other. Multi×multi near-dups are already
    covered by the S:/P:/LSH keys, and skipping them turns the hot
    block's O(n²) pair blowup into O(#abbr × #full) — the skew
    guardrail that replaces the reference's max_mentions_per_entity
    cap (s03:491-501). Both inputs are (snapshot_ts, norm,
    n_mentions); the batch pipeline passes the same vocabulary for
    both, the incremental path passes (new, all) and (all, new).

    BOTH sides of the hot key are capped — without this the
    bipartite product still grows quadratically on a Zipf-hot
    first token (measured: 69× pairs for a 32× corpus, and the
    hot blocks land on single tasks, skewing the wide-cluster
    legs). The full-form side keeps the HIGHEST-FREQUENCY
    completions (exactly the reference's alias-table top-
    candidate cap, s02:434-440 + s03:491-501); the abbreviation
    side is hash-capped (a guardrail only — distinct single-token
    norms per first token are naturally few).
    """
    ntok = F.size(F.split(F.col("norm"), " "))
    fkey = F.split(F.col("norm"), " ").getItem(0)
    abbr = abbr_src.filter(ntok == 1).select(
        "snapshot_ts", fkey.alias("fkey"),
        F.col("norm").alias("n1"), F.col("n_mentions").alias("c1"),
    )
    full = full_src.filter(ntok >= 2).select(
        "snapshot_ts", fkey.alias("fkey"),
        F.col("norm").alias("n2"), F.col("n_mentions").alias("c2"),
    )
    abbr = cap_block_size(abbr, ["snapshot_ts", "fkey"], "n1", cap=pair_cap)
    from pyspark.sql import Window as _W

    w_full = _W.partitionBy("snapshot_ts", "fkey").orderBy(F.col("c2").desc(), "n2")
    full = (
        full.withColumn("_rn", F.row_number().over(w_full))
        .filter(F.col("_rn") <= pair_cap)
        .drop("_rn")
    )
    lt = F.col("n1") < F.col("n2")
    return abbr.join(full, ["snapshot_ts", "fkey"]).select(
        "snapshot_ts",
        F.when(lt, F.col("n1")).otherwise(F.col("n2")).alias("id_a"),
        F.when(lt, F.col("n2")).otherwise(F.col("n1")).alias("id_b"),
        F.when(lt, F.col("n1")).otherwise(F.col("n2")).alias("norm_a"),
        F.when(lt, F.col("n2")).otherwise(F.col("n1")).alias("norm_b"),
        F.when(lt, F.col("c1")).otherwise(F.col("c2")).alias("n_mentions_a"),
        F.when(lt, F.col("c2")).otherwise(F.col("c1")).alias("n_mentions_b"),
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    catalog: Catalog | None = None,
    snapshots: list[str] | None = None,
    threshold: float = MATCH_THRESHOLD,
    pair_cap: int = 200,
    force: bool = False,
    embeddings: DataFrame | None = None,
    context_dim: int = 0,
    profile: bool = False,
) -> dict[str, DataFrame]:
    """Run (or resume) the full flow. Returns the stage DataFrames.
    Evaluation is the caller's: join `components` to gold labels and
    call operators.metrics.pairwise_f1.

    threshold: score_pairs' is_match cut. pair_cap: per-block pair
    cap of every blocking family.

    embeddings: optional cached surface embeddings
    (snapshot_ts, surface, embedding array<float>) — the reference's
    s05 entity-encoding tables. The `surface` key must be the
    NORMALIZED surface (blocking.norm_key), since all pairwise work
    runs on the norm vocabulary. When given, scoring adds the cosine
    feature (score reweighted, see score_pairs; one vector per key,
    see scoring.with_embeddings).

    context_dim: > 0 enables per-occurrence context disambiguation of
    ambiguous abbreviations (operators/context_disambig.py) — the
    model-free analogue of the reference's per-mention-in-context
    candidate re-ranking (nn_prediction.py:76). Occurrences of a
    surface with ≥ 2 full-form candidates are routed to the candidate
    cluster whose occurrences' hashed context vectors are nearest
    (cosine), instead of all going to the prior top-1. Off by
    default: the surface-level pivot is the reference-parity
    semantics; this is the accuracy upgrade on top.

    profile: materialize each stage as it is built and also return
    `timings` (stage → wall seconds) and `codegen_compiles` (stage →
    generated classes compiled, i.e. code-generation cache misses).
    """
    # default = the reference's 10 yearly cuts 2013-2022
    # (s01_config_content.json:29-40)
    snaps = snapshots or yearly_snapshots()
    timings: dict[str, float] = {}
    compiles: dict[str, int] = {}

    def ck(name: str, compute, cache=False) -> DataFrame:
        import time as _time

        t0 = _time.time()
        c0 = codegen_compiles(spark) if profile else 0
        if catalog is None:
            df = compute()
            # no durable checkpoint → persist hot intermediates so the
            # multi-consumer stages don't recompute the whole upstream DAG
            if cache:
                df = df.persist()
            # profile=True eagerly materializes each stage so wall time
            # attributes to the stage that actually did the work — the
            # CC driver loop otherwise pulls ALL upstream compute into
            # the surface_components stage (BENCH round-over-round
            # attribution, VERDICT r1 item 10)
            if profile:
                df.count()
        else:
            df = catalog.read_or_compute(name, compute, ("snapshot_ts",), force=force)
        if profile:
            timings[name] = round(_time.time() - t0, 3)
            compiles[name] = codegen_compiles(spark) - c0
        return df

    mentions = ck("mentions", lambda: extract_mention_table(transcripts, snaps), cache=True)

    # ---- the scale pivot: deduplicate to the surface vocabulary -----
    # normalization happens HERE, once per distinct surface — every
    # downstream feature references the materialized `norm` column.
    # (Inlining it in the scorer would let CollapseProject re-execute
    # the regex chain ~20× per candidate pair.)
    # n_mentions = the alias-table mention frequency (s02's
    # count_mentions) — carried so ambiguity resolution can rank by
    # prior like the reference (prior_rank = 1 wins, s02:434-440)
    surfaces = ck("surfaces", lambda: surface_vocab(mentions), cache=True)

    # ---- second pivot: NORM vocabulary -------------------------------
    # same-norm surfaces ("Granite Ember"/"granite ember"/
    # "Granite_Ember") are must-links with ratio 0 by definition, and
    # scoring them pairwise is pure waste — worse, every variant PAIR
    # of two norms re-scores the same norm pair (measured 2.2× pair
    # duplication on the synthetic corpus). All pairwise work runs on
    # distinct norms; frequencies aggregate per norm, which is exactly
    # the reference's alias-table granularity (mentions normalized
    # BEFORE stats, s02:253-267). Surfaces map back to norm clusters
    # afterwards, relabeled to min(surface) so component ids stay
    # actual surfaces.
    norms = ck("norms", lambda: norm_vocab(surfaces), cache=True)

    blocks = ck("blocks", lambda: build_block_keys(norms), cache=True)

    def _pairs() -> DataFrame:
        # id_a/id_b ARE the norms: the duplicate norm_a/norm_b columns
        # are re-derived by a free projection AFTER the dedup exchange
        # instead of doubling every pair row's string payload through
        # the union+dropDuplicates shuffle (guide §2.3: shuffle fewer
        # bytes — the dedup carried four copies of each norm string).
        # dedup=False: the cross-family dropDuplicates below subsumes
        # the cross-block one — one pair-scale exchange instead of two
        sym = candidate_pairs(
            blocks, ["snapshot_ts", "block_key"], "norm", ["n_mentions"],
            cap=pair_cap, dedup=False,
        ).select("snapshot_ts", "id_a", "id_b", "n_mentions_a", "n_mentions_b")
        bip = bipartite_first_token_pairs(norms, norms, pair_cap=pair_cap).select(
            "snapshot_ts", "id_a", "id_b", "n_mentions_a", "n_mentions_b"
        )
        # sorted-neighborhood pass: each norm pairs with its
        # SN_WINDOW − 1 lexicographic successors per snapshot. Catches
        # the recall hole every other family shares: a typo in the
        # FIRST token ("merixian prairie" ↔ "meridian prairie") breaks
        # the sorted/prefix/first-token keys at once and leaves only
        # LSH luck (12/6 bands miss a J≈0.65 pair ~4% of the time —
        # observed splitting a real cluster). Cost: one vocab-scale
        # distributed rank, SN_WINDOW − 1 pairs per norm, no block skew.
        from tempel_spark.operators.blocking import sorted_neighborhood_pairs

        sn = sorted_neighborhood_pairs(
            norms, sort_key="norm", id_col="norm",
            group_cols=["snapshot_ts"], payload_cols=["n_mentions"],
        ).select("snapshot_ts", "id_a", "id_b", "n_mentions_a", "n_mentions_b")
        return (
            sym.unionByName(bip).unionByName(sn)
            .dropDuplicates(["snapshot_ts", "id_a", "id_b"])
            .select(
                "snapshot_ts", "id_a", "id_b",
                F.col("id_a").alias("norm_a"), F.col("id_b").alias("norm_b"),
                "n_mentions_a", "n_mentions_b",
            )
        )

    pairs = ck("pairs", _pairs, cache=True)

    def _scored() -> DataFrame:
        p = pairs if embeddings is None else with_embeddings(pairs, embeddings)
        return score_pairs(p, threshold)

    scored = ck("scored", _scored, cache=True)

    def _components() -> DataFrame:
        # One pass over the pair-scale scored table: every edge source
        # (matches, partials, the anchored-exclusion scan inside
        # abbreviation_edges) lives in the is_match ∪ is_partial
        # subset (must_link ⊆ is_match), which is vocabulary-scale —
        # pin it so the three consumers don't each re-scan 5M+ cached
        # pair rows (guide §2.3: decide on small rows).
        relevant = scored.select(
            "snapshot_ts", "id_a", "id_b", "norm_a", "norm_b", "score",
            "must_link", "is_partial", "is_match",
            "n_mentions_a", "n_mentions_b",
        ).filter(F.col("is_match") | F.col("is_partial")).localCheckpoint(eager=False)
        edges = relevant.filter(F.col("is_match")).select("snapshot_ts", "id_a", "id_b").unionByName(
            abbreviation_edges(relevant)
        )
        # snapshot-scoped node ids keep one global CC run from ever
        # merging clusters across snapshots (ids never collide).
        e = edges.select(
            F.concat_ws(NODE_SEP, F.col("snapshot_ts").cast("string"), "id_a").alias("id_a"),
            F.concat_ws(NODE_SEP, F.col("snapshot_ts").cast("string"), "id_b").alias("id_b"),
        )
        nodes = norms.select(
            F.concat_ws(NODE_SEP, F.col("snapshot_ts").cast("string"), "norm").alias("node")
        )
        # mid-clustering resumability: every iteration's edge state is
        # durably published; a rerun warm-starts from the latest state
        # (star ops are monotone → identical fixed point). The warm
        # start is gated on a fingerprint of the CURRENT edge input —
        # if upstream stages recomputed (force=True, new threshold,
        # changed inputs) the old cc_edges state describes a different
        # graph and silently resuming from it would cluster stale
        # edges; mismatch ⇒ delete and start cold.
        durable = None
        resume_state = None
        if catalog is not None:
            edge_fp = dict(zip(("edges_n", "edges_hash"), set_fingerprint(e, ("id_a", "id_b"))))
            if catalog.exists("cc_edges"):
                if not force and catalog.get_meta("cc_edges") == edge_fp:
                    resume_state = catalog.read("cc_edges")
                else:
                    catalog.delete("cc_edges")

            def durable(df, it):  # noqa: ANN001
                out = catalog.write(df, "cc_edges")
                catalog.put_meta("cc_edges", edge_fp)
                return out

        res = connected_components(
            e, nodes=nodes, shuffle_partitions=CC_PARTITIONS,
            durable_checkpoint=durable, resume_state=resume_state,
        )
        if catalog is not None:
            catalog.log_metrics(
                "clustering",
                {"iterations": res.iterations, "converged": res.converged, "history": res.history},
            )
        norm_comp = res.components.select(
            F.split_part("node", F.lit(NODE_SEP), F.lit(1)).cast("timestamp").alias("snapshot_ts"),
            F.split_part("node", F.lit(NODE_SEP), F.lit(2)).alias("norm"),
            F.split_part("component", F.lit(NODE_SEP), F.lit(2)).alias("_comp_norm"),
        )
        # map back to surfaces and relabel each cluster to its
        # lexicographically smallest SURFACE — component ids stay real
        # surfaces (the single-node oracle's union-find root is the
        # min surface too, so labels match bit-for-bit)
        from pyspark.sql import Window

        sc_ = surfaces.join(norm_comp, ["snapshot_ts", "norm"])
        w_lbl = Window.partitionBy("snapshot_ts", "_comp_norm")
        return sc_.withColumn("component", F.min("surface").over(w_lbl)).select(
            "snapshot_ts", "surface", "component"
        )

    surface_components = ck("surface_components", _components, cache=True)

    # ---- broadcast the vocabulary assignment back to occurrences ----
    # surface vocabulary is small relative to occurrences → broadcast
    # hash join; 10^12 mention rows never shuffle.
    def _assign() -> DataFrame:
        base = mentions.select("snapshot_ts", "mention_id", "surface").join(
            F.broadcast(surface_components), ["snapshot_ts", "surface"], "inner"
        )
        if context_dim <= 0:
            return base.select("snapshot_ts", "mention_id", "component")
        from tempel_spark.operators.context_disambig import (
            ambiguous_candidates,
            disambiguate_occurrences,
        )

        # the scored pair ids are NORMS — feed norm-keyed occurrence
        # and component frames so the operator's joins line up
        surf_norm = surfaces.select("snapshot_ts", "surface", "norm")
        norm_components = (
            surf_norm.join(surface_components, ["snapshot_ts", "surface"])
            .select("snapshot_ts", F.col("norm").alias("surface"), "component")
            .distinct()
        )
        mentions_n = (
            mentions.join(F.broadcast(surf_norm), ["snapshot_ts", "surface"])
            .select(
                "snapshot_ts", "conv_id", "turn_idx", "mention_id",
                F.col("norm").alias("surface"),
            )
        )
        overrides = disambiguate_occurrences(
            transcripts, mentions_n, norm_components,
            ambiguous_candidates(scored), dim=context_dim,
        )
        # No broadcast hint: overrides is occurrence-scale (one row per
        # re-routed mention of a Zipf-hot ambiguous surface), not
        # vocabulary-scale — at the 10^12-mention posture forcing a
        # broadcast can OOM the driver.  Catalyst/AQE picks the strategy,
        # mirroring scoring.with_embeddings.
        return (
            base.join(
                overrides.withColumnRenamed("component", "_ctx_component"),
                ["snapshot_ts", "mention_id"],
                "left",
            )
            .select(
                "snapshot_ts",
                "mention_id",
                F.coalesce("_ctx_component", "component").alias("component"),
            )
        )

    # cache only in profile mode: the profiling count already
    # materializes the stage, so pinning it makes the caller's
    # follow-up actions (the bench's count/countDistinct census) read
    # the persisted frame instead of re-running the mention-scale
    # broadcast join (measured 2.4-3.3 s per rep at sf1.0). In
    # non-profile runs the frame is consumed exactly once downstream
    # and a persist would be pure cache-write overhead.
    components = ck("components", _assign, cache=profile)

    out = {
        "mentions": mentions,
        "surfaces": surfaces,
        "norms": norms,
        "blocks": blocks,
        "pairs": pairs,
        "scored": scored,
        "surface_components": surface_components,
        "components": components,
    }
    if profile:
        out["timings"] = timings  # type: ignore[assignment]
        out["codegen_compiles"] = compiles  # type: ignore[assignment]
    return out
