"""Dedup-on-ingest: streaming near-duplicate detection over winnowed
document fingerprints.

A 100 TB training-data pipeline dedupes the crawl AS IT LANDS — batch
re-deduping the whole corpus per drop re-pays the full corpus cost for
every delta. This operator is the streaming twin of
`dedup.winnow_similar_pairs` (MOSS report, Schleimer et al. 2003),
built on the same crash-safety discipline as
`streaming/incremental_er.stream_incremental_er`:

* per-batch work tracks the DELTA: fingerprinting is a zero-shuffle
  Arrow pass over the new docs only (a document's fingerprint set is
  immutable, so each doc is fingerprinted exactly once, ever);
* the fingerprint→doc-frequency state folds through
  `Catalog.upsert_fold` — a batch rewrites only the fp hash buckets it
  touches, and the replay marker (batch id + content fingerprint)
  commits atomically with the fold;
* pair + fingerprint appends go FIRST, the df fold with its marker
  LAST: a crashed batch's retry re-appends (at-least-once) and the
  read-side dedupe restores exactly-once; committing the marker first
  would let a retry silently drop the batch's pairs. A crash INSIDE
  the fold (some df buckets swapped) makes the retry's emit-time df
  reads overcount — its re-appended rows can carry smaller n_shared —
  but the first attempt already appended the correct rows before the
  fold started, so `read_winnow_pairs` resolving duplicates by
  max(n_shared) always surfaces the correct value (overcounted df
  only shrinks the rare-fp set, never grows it);
* the doc-frequency cap (`max_df`) is decided AT EMIT TIME from the
  merged (previous ∪ delta) counts of exactly the fps the batch
  touches — bucket-pruned state reads, never a full-state scan. Both
  docs' fingerprint sets are complete when the later doc arrives, so
  when the cap does not bind the emitted pairs (and their n_shared)
  equal a batch `winnow_similar_pairs` run over the full corpus —
  pinned by the parity test. When the cap binds, insert-time df ≤
  final df, so the stream may emit pairs on fps that later go hot
  (batch drops them): dedup-on-ingest intentionally errs toward
  recall — a pair seen early is still a real near-dup.

The fp log itself is append-only (parquet mode reads it whole per
ingest for the cross join, like the ER key log; Iceberg mode would
declare `bucket(n, fp)` on it so the engine prunes the same way the
df fold does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tempel_spark.operators.dedup import winnow_fingerprints
from tempel_spark.sources.catalog import Catalog
from tempel_spark.streaming._replay import batch_content_fp, check_replay, make_marker

__all__ = ["stream_incremental_winnow", "read_winnow_pairs", "DOC_SCHEMA"]

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

_FPS = "stream_winnow_fps"
_DF = "stream_winnow_df"
_PAIRS = "stream_winnow_pairs"


def stream_incremental_winnow(
    spark: SparkSession,
    input_dir: str,
    catalog: Catalog,
    k: int = 20,
    w: int = 10,
    max_df: int = 5,
    min_shared: int = 2,
    checkpoint_dir: str | None = None,
    state_parts: int = 64,
):
    """Start (or resume) the dedup-on-ingest stream over `input_dir`
    ((doc_id, text) parquet drops). `availableNow` + the stream
    checkpoint give exactly-once file consumption. Returns the
    StreamingQuery — call `.awaitTermination()`.

    Emits (id_a, id_b, n_shared, batch_id) rows to the append-only
    pair log for every pair sharing >= min_shared fingerprints that
    are rare (df <= max_df at emit time), where at least one side is
    new in the batch.
    """
    ckpt = checkpoint_dir or f"{catalog.base}/_stream_winnow_ckpt"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fps_new = (
            winnow_fingerprints(batch_df, k=k, w=w)
            .select("doc_id", "fp")
            .distinct()
            .localCheckpoint(eager=True)
        )
        batch_fp = batch_content_fp(fps_new, ("doc_id", "fp"))
        # REPLAY GUARD (shared with incremental ER): the df-fold marker
        # carries (checkpoint, batch id, content fp, winnow k/w)
        # atomically with the folded state — a true replay skips, every
        # unsafe resume (re-pointed checkpoint, rewound ids, different
        # k/w — an incompatible fingerprint space) fails loudly.
        if check_replay(
            catalog.get_inline_meta(_DF) or {},
            "wn", ckpt, batch_id, batch_fp,
            params={"k": k, "w": w},
            state_desc="winnow state",
        ):
            return
        # delta df + bucket-priced merge with previous df state: only
        # fps touched by this batch can form new pairs, so the cap
        # check reads exactly the delta's hash buckets. `parts` is the
        # table's own bucket count, adopted BEFORE any append — trusting
        # a caller-supplied state_parts that differs would read the
        # wrong buckets, under-count df, and pollute the append-only
        # pair log with uncappable bogus pairs.
        delta_df = fps_new.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
        merged = delta_df
        prev, parts = catalog.read_upsert_prior(_DF, delta_df, ("fp",), state_parts)
        if prev is not None:
            merged = (
                delta_df.unionByName(prev.join(delta_df.select("fp"), "fp", "leftsemi"))
                .groupBy("fp")
                .agg(F.sum("n_docs").alias("n_docs"))
            )
        # rare is tiny (<= the batch's touched fps) but its lineage
        # holds the whole bucket-pruned state read — checkpoint it once
        # so the old-side join below doesn't re-run that scan.
        rare = (
            merged.filter(F.col("n_docs") <= max_df)
            .select("fp")
            .localCheckpoint(eager=True)
        )
        new_rare = fps_new.join(rare, "fp")
        sides = new_rare.select(
            "fp", F.col("doc_id").alias("doc_b"), F.lit(True).alias("_new")
        )
        if catalog.append_has_data(_FPS):
            old = (
                catalog.read_append(_FPS)
                .distinct()  # restores exactly-once over at-least-once appends
                .join(rare, "fp")
                .select("fp", F.col("doc_id").alias("doc_b"), F.lit(False).alias("_new"))
            )
            sides = sides.unionByName(old)
        joined = new_rare.select("fp", F.col("doc_id").alias("doc_a")).join(sides, "fp")
        pairs = (
            joined.filter((~F.col("_new")) | (F.col("doc_a") < F.col("doc_b")))
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select(
                F.least("doc_a", "doc_b").alias("id_a"),
                F.greatest("doc_a", "doc_b").alias("id_b"),
                "fp",
            )
            .distinct()
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
        )
        # WRITE ORDER = crash safety (see module docstring): appends
        # first, df fold + marker last.
        catalog.append(pairs, _PAIRS)
        catalog.append(fps_new, _FPS)
        catalog.upsert_fold(
            delta_df,
            _DF,
            key_cols=("fp",),
            sum_cols=("n_docs",),
            marker=make_marker(
                "wn", ckpt, batch_id, batch_fp, params={"k": k, "w": w}
            ),
            n_parts=parts,
        )

    return (
        spark.readStream.schema(DOC_SCHEMA)
        .parquet(input_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def read_winnow_pairs(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """Near-dup pairs emitted so far, exactly-once view. A crashed
    batch's retry re-appends its pairs (at-least-once); in the one
    crash window where the retry's rows can differ — a crash inside
    the df fold leaves some buckets folded, the retry's emit-time df
    reads overcount, the rare-fp set shrinks, n_shared comes out
    SMALLER — the first attempt's correct rows are already in the log
    (appends precede the fold), so max(n_shared) per (pair, batch) is
    exactly the pre-crash value. Identical re-appends fold to the same
    row either way."""
    if not catalog.append_has_data(_PAIRS):
        return spark.createDataFrame(
            [], "id_a long, id_b long, n_shared long, batch_id long"
        )
    return (
        catalog.read_append(_PAIRS)
        .groupBy("id_a", "id_b", "batch_id")
        .agg(F.max("n_shared").alias("n_shared"))
        .select("id_a", "id_b", "n_shared", "batch_id")
    )
