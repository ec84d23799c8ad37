"""Incremental ER: continuous blocking + scoring over arriving
transcripts (Structured Streaming, `availableNow`).

The batch pipeline re-derives every stage from the full corpus; this
module keeps the ER *pair state* continuously up to date instead. Per
micro-batch:

  new files ──▶ mention extraction (same stage as batch)
      ▼
  batch norm counts ──anti-join──▶ GENUINELY NEW norms (never seen
      │                            in this (snapshot, norm) vocab)
      ▼
  candidate pairs: new × all, equi-joined on the SAME stationary
      │   block keys as batch (pipeline.build_block_keys — keys are
      │   derived from norm text alone, so a norm is keyed once,
      │   appended to a persisted key log, and joins against any
      │   future vocabulary) + the bipartite first-token key in both
      │   (new, all) / (all, new) roles
      ▼
  score_pairs (texts only ⇒ identical scores to batch) ──append──▶
      │   durable scored-pair log
      │   (optional embeddings ride the same with_embeddings join)
      ▼
  vocab upsert LAST (Catalog.upsert_fold: only the delta's hash
          buckets are rewritten — per-ingest state I/O tracks the
          delta, never |vocab| — each bucket atomically published
          with the applied-batch marker; with an Iceberg catalog
          the same call is a keyed MERGE INTO with a row-level
          marker guard; committing the vocab after the appends is
          what makes a batch retry safe)

Every emitted pair has ≥ 1 side that is new to the vocabulary, so no
pair is ever scored twice across batches. Parity with the batch
pipeline (pinned by tests/test_streaming_incremental_er.py), when the
block caps don't bind, is per-family: the stationary families (token
blocks, LSH, prefix, bipartite first-token) accumulate to EXACTLY the
batch pipeline's pair set; the sorted-neighborhood family is emitted
at insert time — each fresh norm pairs with its window-neighbors in
the vocabulary order of its arrival batch — which is a provable
SUPERSET of the final batch SN pairs (norms are only ever inserted,
so the sorted distance between two norms never shrinks: any pair
within the window in the final order was within the window when its
newer side arrived). The extras — pairs adjacent at insert time that
later drifted apart — stay in the append-only log; they are scored
candidates like any others and can only add recall. At
10^12-turn scale this is the difference between re-scoring the full
vocabulary² candidate space per ingest and scoring only the
new-norm frontier (new norms grow ~log-like while turns grow
linearly).

Batch and stream share one configuration, not a set of options:
blocking.SN_WINDOW/LSH_HASHES/LSH_BANDS and scoring.MATCH_THRESHOLD
are constants both sides use, so only pair_cap (and embeddings) must
be passed alike on both sides.

Clustering stays a periodic batch job (`recluster`): component merges
are non-monotone under new evidence (a new bridging norm can merge two
old clusters), so the honest incremental contract is "pairs are
incremental, components are recomputed from the pair log on demand" —
connected_components re-solves the vocabulary-scale edge list, never
the corpus.

Pair frequencies (`n_mentions_*`) in the log are arrival-time values;
consumers that need current priors (abbreviation resolution) join the
live `stream_norms` vocab instead, as `recluster` does.

Reference: the TempEL pipeline has no incremental path at all — a new
dump re-runs the multi-day batch (BASELINE.md); this module is part of
the engine's Spark-native surplus, like streaming/{incremental,
stateful,windowed,sessionize}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tempel_spark.operators.blocking import cap_block_size, sorted_neighborhood_pairs
from tempel_spark.operators.scoring import abbreviation_edges, score_pairs, with_embeddings
from tempel_spark.plans.pipeline import (
    CC_PARTITIONS,
    bipartite_first_token_pairs,
    build_block_keys,
    extract_mention_table,
    norm_vocab,
    surface_vocab,
)
from tempel_spark.sources.catalog import Catalog
from tempel_spark.streaming._replay import batch_content_fp, check_replay, make_marker
from tempel_spark.streaming.incremental import TRANSCRIPT_SCHEMA

__all__ = ["stream_incremental_er", "read_scored_pairs", "recluster"]

_VOCAB = "stream_norms"
_PAIRS = "stream_scored_pairs"
_KEYS = "stream_block_keys"


def _vocab_keys(catalog: Catalog) -> DataFrame:
    """The persisted block-key log (append-only, one append per ingest
    frontier). The dedupe undoes replayed-batch appends; n_mentions is
    the arrival-time count, which is benign here — keys drive block
    membership and hot-block caps only, never scores."""
    return catalog.read_append(_KEYS).dropDuplicates(
        ["snapshot_ts", "norm", "block_key"]
    )


def _batch_norms(transcripts: DataFrame, snapshots: list[str] | None) -> DataFrame:
    """Micro-batch → (snapshot_ts, norm, n_mentions), the same two
    pivots (surface, then norm) as the batch pipeline."""
    return norm_vocab(surface_vocab(extract_mention_table(transcripts, snapshots)))


def _new_pairs(
    kf: DataFrame,
    ka: DataFrame,
    fresh: DataFrame,
    vocab: DataFrame,
    pair_cap: int,
) -> DataFrame:
    """Candidate pairs with ≥ 1 fresh side: the fresh norms' block
    keys (`kf`) equi-join the full vocabulary's keys (`ka`, the
    persisted key log — fresh ⊆ vocab, so fresh×vocab covers
    fresh×fresh too), plus the bipartite first-token key in both role
    assignments. Hot blocks stay capped on the vocabulary side — the
    same guardrail as batch, applied per ingest."""
    # frontier-price the vocabulary side: only blocks the FRESH norms
    # participate in can emit pairs, so restrict the (vocab-scale) key
    # log to kf's block keys BEFORE the cap window — per-(snapshot,
    # block_key) capping is unchanged within surviving groups, and the
    # equi-join below would discard every other group anyway. AQE
    # broadcasts the (frontier-sized) key set, so the log is scanned,
    # never shuffled.
    ka = ka.join(
        kf.select("snapshot_ts", "block_key").distinct(),
        ["snapshot_ts", "block_key"],
        "leftsemi",
    )
    ka = cap_block_size(ka, ["snapshot_ts", "block_key"], "norm", cap=pair_cap)
    kf = cap_block_size(kf, ["snapshot_ts", "block_key"], "norm", cap=pair_cap)
    j = kf.select(
        "snapshot_ts", "block_key",
        F.col("norm").alias("fn"), F.col("n_mentions").alias("fc"),
    ).join(
        ka.select(
            "snapshot_ts", "block_key",
            F.col("norm").alias("on"), F.col("n_mentions").alias("oc"),
        ),
        ["snapshot_ts", "block_key"],
    ).filter(F.col("fn") != F.col("on"))
    lt = F.col("fn") < F.col("on")
    blocked = j.select(
        "snapshot_ts",
        F.when(lt, F.col("fn")).otherwise(F.col("on")).alias("id_a"),
        F.when(lt, F.col("on")).otherwise(F.col("fn")).alias("id_b"),
        F.when(lt, F.col("fn")).otherwise(F.col("on")).alias("norm_a"),
        F.when(lt, F.col("on")).otherwise(F.col("fn")).alias("norm_b"),
        F.when(lt, F.col("fc")).otherwise(F.col("oc")).alias("n_mentions_a"),
        F.when(lt, F.col("oc")).otherwise(F.col("fc")).alias("n_mentions_b"),
    )
    bip = bipartite_first_token_pairs(fresh, vocab, pair_cap=pair_cap).unionByName(
        bipartite_first_token_pairs(vocab, fresh, pair_cap=pair_cap)
    )
    return blocked.unionByName(bip).dropDuplicates(["snapshot_ts", "id_a", "id_b"])


def _insert_time_sn(bn: DataFrame, prev: DataFrame | None, fresh: DataFrame) -> DataFrame:
    """Insert-time sorted-neighborhood pairs for the frontier (the
    incremental counterpart of pipeline._pairs' SN union — module
    docstring has the superset proof).

    Cost posture: the neighbor probe is one narrow (norm-column)
    vocabulary-scale sort per ingest — the same cost class as the
    per-ingest key-log read in the stationary families; the count
    payload fold is restricted to the SN *participants* (a
    delta-proportional set: ≤ 2·(SN_WINDOW−1) neighbors per fresh norm),
    so the vocabulary is never re-aggregated. An Iceberg vocab table
    with a declared sort order would make the probe itself
    delta-priced (range-file pruning); with hash-bucketed parquet
    state the full narrow sort is the honest price.
    """
    names = fresh.select("snapshot_ts", "norm", F.lit(True).alias("_fresh"))
    if prev is not None:
        names = names.unionByName(
            prev.select("snapshot_ts", "norm", F.lit(False).alias("_fresh"))
        )
    sn = sorted_neighborhood_pairs(
        names, sort_key="norm", id_col="norm",
        group_cols=["snapshot_ts"], payload_cols=["_fresh"],
    ).filter(F.col("_fresh_a") | F.col("_fresh_b"))
    parts = (
        sn.select("snapshot_ts", F.col("id_a").alias("norm"))
        .unionByName(sn.select("snapshot_ts", F.col("id_b").alias("norm")))
        .distinct()
    )
    counts = bn.select("snapshot_ts", "norm", "n_mentions")
    if prev is not None:
        counts = counts.unionByName(prev.select("snapshot_ts", "norm", "n_mentions"))
    counts = (
        counts.join(parts, ["snapshot_ts", "norm"], "leftsemi")
        .groupBy("snapshot_ts", "norm")
        .agg(F.sum("n_mentions").alias("n_mentions"))
    )
    ca = counts.select(
        "snapshot_ts", F.col("norm").alias("id_a"),
        F.col("n_mentions").alias("n_mentions_a"),
    )
    cb = counts.select(
        "snapshot_ts", F.col("norm").alias("id_b"),
        F.col("n_mentions").alias("n_mentions_b"),
    )
    return (
        sn.join(ca, ["snapshot_ts", "id_a"]).join(cb, ["snapshot_ts", "id_b"])
        .select(
            "snapshot_ts", "id_a", "id_b",
            F.col("id_a").alias("norm_a"), F.col("id_b").alias("norm_b"),
            "n_mentions_a", "n_mentions_b",
        )
    )


def stream_incremental_er(
    spark: SparkSession,
    input_dir: str,
    catalog: Catalog,
    snapshots: list[str] | None = None,
    pair_cap: int = 200,
    checkpoint_dir: str | None = None,
    embeddings: DataFrame | None = None,
    state_parts: int = 64,
):
    """Start (or resume) the incremental ER ingest over `input_dir`.

    `availableNow` + the stream checkpoint give exactly-once file
    consumption: a cron-style rerun processes only files that landed
    since the last run and stops. Returns the StreamingQuery — call
    `.awaitTermination()`.

    Scoring uses score_pairs' default MATCH_THRESHOLD and blocking the
    fixed LSH_HASHES/LSH_BANDS/SN_WINDOW — the batch pipeline's
    defaults, so the pair log and a batch run agree. pair_cap must
    equal the batch run's for the parity to hold.

    embeddings: optional cached NORM-keyed embeddings (snapshot_ts,
    surface, embedding) — the same contract as run_pipeline's: when
    given, scoring adds the cosine feature with the reweighted score
    through the same scoring.with_embeddings join, so incremental
    scores stay bit-identical to a batch run with the same embedding
    table. (Embeddings must cover a norm at ingest
    time — scores are immutable once logged — and the option must be
    used consistently over the pair log's lifetime: it changes the
    logged schema, and mixing modes would mis-append — enforced by a
    schema check against the existing log before each append.)

    state_parts: hash-bucket count of the vocabulary state table
    (parquet mode; the Iceberg mode becomes a `bucket(n, norm)`
    partition transform + keyed MERGE INTO). A delta batch rewrites
    ONLY the buckets its norms hash into, so per-ingest state I/O
    scales with the delta's bucket-touch count, never |vocabulary| —
    size it so |vocab| / state_parts rows fit one comfortable task.
    Fixed at table creation.
    """
    ckpt = checkpoint_dir or f"{catalog.base}/_stream_er_ckpt"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        bn = _batch_norms(batch_df, snapshots).localCheckpoint(eager=True)
        batch_fp = batch_content_fp(bn, ("snapshot_ts", "norm", "n_mentions"))
        # REPLAY GUARD (shared, streaming/_replay.py): the vocab commit
        # carries the applied batch id + a content fingerprint
        # ATOMICALLY with its contents (inline meta rides the same
        # commit rename). A batch replayed after a crash in the offset
        # commit window would otherwise re-fold its counts into a
        # vocab that already contains them, doubling n_mentions and
        # corrupting the abbreviation priors; a wiped checkpoint
        # presenting different contents, a re-pointed checkpoint dir,
        # and a rewound batch id all fail loudly instead.
        if check_replay(
            catalog.get_inline_meta(_VOCAB) or {},
            "er", ckpt, batch_id, batch_fp,
            state_desc="ER state",
        ):
            catalog.log_metrics(f"stream_er_batch_{batch_id}", {"replayed": True})
            return
        # BUCKET-PRICED newness check: a norm can only collide with
        # vocab rows in its own hash bucket, so the anti-join reads
        # exactly the delta's buckets (partition-pruned), never the
        # full state table. Iceberg mode has no local bucket dirs to
        # prune by hand — the bucket(n, norm) partition transform lets
        # the engine prune the same way on the full read.
        # the bucket layout is fixed at table creation — adopt the
        # table's n_parts BEFORE any append, or a resume with a
        # different state_parts would compute wrong bucket ids, miss
        # prior vocab rows, and pollute the pair log before
        # upsert_fold's spec check could fire
        spec = catalog.upsert_spec(_VOCAB)
        parts = spec["n_parts"] if spec is not None else state_parts
        prev_touched = None
        if catalog.use_iceberg:
            if catalog.exists(_VOCAB):
                prev_touched = catalog.read(_VOCAB)
        else:
            from tempel_spark.sources.catalog import upsert_bucket_col

            touched = [
                r["_b"]
                for r in bn.select(
                    upsert_bucket_col(("snapshot_ts", "norm"), parts).alias("_b")
                ).distinct().collect()
            ]
            prev_touched = catalog.read_upsert_buckets(_VOCAB, touched)
        if prev_touched is not None:
            # materialize BEFORE the vocab upsert swaps bucket dirs
            fresh = bn.join(
                prev_touched, ["snapshot_ts", "norm"], "left_anti"
            ).localCheckpoint(eager=True)
        else:
            fresh = bn  # already an eager checkpoint (fingerprint above)
        n_new = fresh.count()
        # WRITE ORDER = crash safety. foreachBatch retries a failed
        # batch (offsets commit only on success), so: pair + key
        # appends FIRST (a retry after a mid-append crash re-appends
        # them — at-least-once, restored to exactly-once by the
        # dedupes in read_scored_pairs/_vocab_keys), vocab commit LAST
        # (the moment these norms stop being "fresh"; committing it
        # first would make a retry see an empty frontier and silently
        # drop the batch's pairs forever).
        if n_new:
            # keys are computed for the FRONTIER only; the vocabulary
            # side comes from the persisted key log (keys derive from
            # norm text alone, so a norm is MinHash-keyed exactly once
            # over its lifetime — per-ingest cost tracks the frontier,
            # not |vocab|)
            kf = build_block_keys(fresh).localCheckpoint(eager=True)
            ka = (
                kf.unionByName(_vocab_keys(catalog))
                if catalog.append_has_data(_KEYS)
                else kf
            )
            # bipartite vocabulary side: the first-token pairing only
            # links norms sharing a first token with the frontier, so
            # restrict the (vocab-scale) table to those tokens BEFORE
            # merging counts — within surviving tokens the merged
            # counts equal the full prev∪delta fold (a norm's prev and
            # delta rows share its fkey, so they survive or fall
            # together), and the full-vocab groupBy shuffle the old
            # code paid per ingest disappears.
            fk = F.split(F.col("norm"), " ").getItem(0)
            fks = fresh.select("snapshot_ts", fk.alias("_fk")).distinct()

            def _hot(df: DataFrame) -> DataFrame:
                return (
                    df.withColumn("_fk", fk)
                    .join(fks, ["snapshot_ts", "_fk"], "leftsemi")
                    .drop("_fk")
                )

            prev_full = catalog.read(_VOCAB) if catalog.exists(_VOCAB) else None
            hot = _hot(bn)
            if prev_full is not None:
                hot = hot.unionByName(_hot(prev_full))
            merged_hot = hot.groupBy("snapshot_ts", "norm").agg(
                F.sum("n_mentions").alias("n_mentions")
            )
            pairs = (
                _new_pairs(kf, ka, fresh, merged_hot, pair_cap)
                .unionByName(_insert_time_sn(bn, prev_full, fresh))
                .dropDuplicates(["snapshot_ts", "id_a", "id_b"])
            )
            if embeddings is not None:
                pairs = with_embeddings(pairs, embeddings)
            scored = score_pairs(pairs)
            if embeddings is not None:
                # the raw embedding arrays must NOT enter the immutable
                # append-only log — that would bloat the one table that
                # is never rewritten by dim floats per pair, forever.
                # The derived cosine + reweighted score columns carry
                # everything downstream consumers (and the schema-
                # consistency check below) need.
                scored = scored.drop("emb_a", "emb_b")
            # append-only pair log: the one ER table that must never
            # be rewritten per ingest. Column drift (an embeddings
            # run appending onto a non-embeddings log or vice versa)
            # would silently mix incomparable score scales — refuse.
            if catalog.append_has_data(_PAIRS):
                existing = {f.name for f in catalog.read_append(_PAIRS).schema}
                now = set(scored.columns)
                if existing != now:
                    raise RuntimeError(
                        "pair-log schema mismatch: existing log has columns "
                        f"{sorted(existing)} but this ingest produces "
                        f"{sorted(now)} — the embeddings option must be used "
                        "consistently over the log's lifetime"
                    )
            catalog.append(scored, _PAIRS)
            catalog.append(kf, _KEYS)
        # vocab upsert LAST: only the delta's hash buckets are
        # rewritten (Iceberg: MERGE INTO with a row-level marker
        # guard); the applied-batch marker commits with/after the
        # folded state, and per-bucket (or per-row) markers make a
        # crashed batch's retry idempotent
        catalog.upsert_fold(
            bn,
            _VOCAB,
            key_cols=("snapshot_ts", "norm"),
            sum_cols=("n_mentions",),
            marker=make_marker("er", ckpt, batch_id, batch_fp),
            n_parts=parts,
        )
        catalog.log_metrics(
            f"stream_er_batch_{batch_id}", {"n_new_norms": n_new, "paired": n_new > 0}
        )

    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )


def read_scored_pairs(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """Accumulated pair log. The dedupe undoes the at-least-once
    append of a retried batch (see the write-order note in
    stream_incremental_er) — duplicate rows are bit-identical, so any
    survivor is correct. Raises a clear FileNotFoundError before any
    pair-producing ingest has run (recluster handles that case itself
    by emitting singletons)."""
    # a batch with fresh norms but zero candidate pairs creates the
    # directory with no data files — that is still "no pairs yet"
    # (spark.read.parquet on it would fail schema inference)
    if not catalog.append_has_data(_PAIRS):
        raise FileNotFoundError(
            f"pair log {catalog.path(_PAIRS)} has no pairs yet — run "
            "stream_incremental_er over at least one pair-producing batch first"
        )
    return catalog.read_append(_PAIRS).dropDuplicates(
        ["snapshot_ts", "id_a", "id_b"]
    )


def recluster(spark: SparkSession, catalog: Catalog, warm: bool = False):
    """Periodic batch job over the accumulated pair log: match edges
    (+ abbreviation-prior edges against the CURRENT vocab frequencies)
    → connected components per snapshot. Vocabulary-scale, corpus-free.

    warm=True resumes from the previous run's MATCH-edge star forest
    (persisted under `stream_cc_state`) unioned with the grown match
    edge list — valid because match edges are text-determined and the
    pair log only grows (monotone), so CC(prev_star ∪ match_edges) ==
    CC(match_edges). Abbreviation-prior edges are deliberately NOT in
    the persisted state: they are frequency-routed and can CHANGE as
    priors shift with new data (a "falcon" that re-routes to a
    different full form must not stay welded to the old one — caught
    by the two-wave test), so each recluster overlays the CURRENT
    abbreviation edges on the match star forest in a second, cheap CC
    pass (near-star graph + one edge per ambiguous abbreviation).
    Warm wins once the match edge list is past the single-task-
    contraction threshold (a near-star start converges in ~2 rounds
    instead of ⌈log diameter⌉); below it the cold single-task path is
    already one pass, so warm stays opt-in. A warm call also refreshes
    `stream_cc_state` for the next one; a cold call stays single-pass
    and persists nothing. Both CC passes run CC_PARTITIONS shuffle
    partitions, like the batch pipeline's."""
    from tempel_spark.operators.clustering import NODE_SEP, connected_components

    vocab = catalog.read(_VOCAB)
    try:
        scored = read_scored_pairs(spark, catalog)
    except FileNotFoundError:
        # ingested norms but no candidate pairs yet (e.g. recluster
        # scheduled ahead of the first pair-bearing batch): every norm
        # is its own component
        return vocab.select(
            "snapshot_ts", "norm", F.col("norm").alias("component")
        )
    # refresh priors: arrival-time frequencies in the log are stale
    cur = vocab.select("snapshot_ts", F.col("norm"), F.col("n_mentions"))
    refreshed = (
        scored.drop("n_mentions_a", "n_mentions_b")
        .join(
            cur.select(
                "snapshot_ts", F.col("norm").alias("id_a"),
                F.col("n_mentions").alias("n_mentions_a"),
            ),
            ["snapshot_ts", "id_a"],
        )
        .join(
            cur.select(
                "snapshot_ts", F.col("norm").alias("id_b"),
                F.col("n_mentions").alias("n_mentions_b"),
            ),
            ["snapshot_ts", "id_b"],
        )
    )
    def scoped(df, a, b):
        return df.select(
            F.concat_ws(NODE_SEP, F.col("snapshot_ts").cast("string"), a).alias("id_a"),
            F.concat_ws(NODE_SEP, F.col("snapshot_ts").cast("string"), b).alias("id_b"),
        )

    match_e = scoped(refreshed.filter(F.col("is_match")), "id_a", "id_b")
    abbr_e = scoped(abbreviation_edges(refreshed), "id_a", "id_b")
    nodes = vocab.select(
        F.concat_ws(NODE_SEP, F.col("snapshot_ts").cast("string"), "norm").alias("id_a")
    )
    if warm:
        # stage 1: match-edge-only CC (the monotone, warm-startable
        # part — this is where the big edge list lives)
        resume = None
        if catalog.exists("stream_cc_state"):
            prev = catalog.read("stream_cc_state")
            resume = (
                prev.unionByName(
                    match_e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
                )
                .filter(F.col("a") != F.col("b"))
                .distinct()
            )
        res1 = connected_components(
            match_e, shuffle_partitions=CC_PARTITIONS, resume_state=resume
        )
        star1 = res1.components.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("id_a"), F.col("component").alias("id_b")
        )
        star1 = catalog.write(
            star1.withColumnRenamed("id_a", "a").withColumnRenamed("id_b", "b"),
            "stream_cc_state",
        ).select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        # stage 2: overlay the CURRENT prior-routed abbreviation edges
        # on the match star forest (near-star + tiny edge set → the
        # single-task endgame solves it in one pass)
        e = star1.unionByName(abbr_e)
    else:
        e = match_e.unionByName(abbr_e)
    res = connected_components(e, nodes=nodes, shuffle_partitions=CC_PARTITIONS)
    return res.components.select(
        F.split_part("node", F.lit(NODE_SEP), F.lit(1)).cast("timestamp").alias("snapshot_ts"),
        F.split_part("node", F.lit(NODE_SEP), F.lit(2)).alias("norm"),
        F.split_part("component", F.lit(NODE_SEP), F.lit(2)).alias("component"),
    )
