"""Incremental streaming ER: the accumulated scored-pair log after two
landing waves must equal the batch pipeline's scored pairs on the full
corpus (uncapped blocks), and the periodic recluster must induce the
identical norm partition."""

from __future__ import annotations

import pyspark.sql.functions as F

_SNAPS = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015)]
_CAP = 100_000  # caps must not bind for exact batch equality


def _canon_pairs(df):
    return sorted(
        map(
            tuple,
            df.select(
                F.col("snapshot_ts").cast("string"),
                "id_a",
                "id_b",
                F.round("score", 6).alias("s"),
                "is_match",
            ).collect(),
        )
    )


def _sn_pairs_py(vocab_rows, window: int = 3) -> set:
    """Python mirror of sorted-neighborhood pairing: per snapshot,
    each norm with its next window−1 lexicographic neighbors."""
    by_snap: dict = {}
    for snap, norm in vocab_rows:
        by_snap.setdefault(snap, set()).add(norm)
    out = set()
    for snap, ns in by_snap.items():
        s = sorted(ns)
        for i in range(len(s)):
            for j in range(i + 1, min(i + window, len(s))):
                out.add((snap, s[i], s[j]))
    return out


def _assert_stream_batch_parity(inc, batch_scored, wave1_vocab):
    """Per-family parity (incremental_er module contract): the batch
    pipeline's pairs are a SUBSET of the stream log with identical
    scores/decisions; the stream's extras are exactly insert-time
    sorted-neighborhood adjacencies of the wave-1 vocabulary that
    drifted beyond the window once wave 2's norms were inserted."""
    s_rows = {r[:3]: r for r in _canon_pairs(inc)}
    b_rows = {r[:3]: r for r in _canon_pairs(batch_scored)}
    missing = set(b_rows) - set(s_rows)
    assert not missing, f"stream log missing batch pairs: {sorted(missing)[:5]}"
    for k, row in b_rows.items():
        assert s_rows[k] == row, f"score/decision drift on {k}: {s_rows[k]} != {row}"
    extras = set(s_rows) - set(b_rows)
    allowed = _sn_pairs_py(wave1_vocab)
    bad = extras - allowed
    assert not bad, f"stream extras outside insert-time SN: {sorted(bad)[:5]}"


def test_incremental_er_matches_batch(spark, tmp_path):
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import (
        read_scored_pairs,
        recluster,
        stream_incremental_er,
    )
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=50, n_entities=14, n_snapshots=2)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))

    # wave 1 lands, ingest runs to completion and stops (availableNow)
    t.filter(F.crc32("conv_id") % 2 == 0).write.mode("append").parquet(landing)
    stream_incremental_er(
        spark, landing, cat, snapshots=_SNAPS, pair_cap=_CAP
    ).awaitTermination()
    n_pairs_wave1 = read_scored_pairs(spark, cat).count()
    v1 = [
        (r[0], r[1])
        for r in cat.read("stream_norms")
        .select(F.col("snapshot_ts").cast("string"), "norm")
        .collect()
    ]
    # warm recluster after wave 1: no state yet, so it solves cold and
    # persists the match-edge star forest for the chain below
    recluster(spark, cat, warm=True)

    # wave 2 lands later; the SAME stream checkpoint resumes and
    # processes only the new files
    t.filter(F.crc32("conv_id") % 2 == 1).write.mode("append").parquet(landing)
    stream_incremental_er(
        spark, landing, cat, snapshots=_SNAPS, pair_cap=_CAP
    ).awaitTermination()

    inc = read_scored_pairs(spark, cat)
    assert inc.count() > n_pairs_wave1 > 0

    batch = run_pipeline(spark, t, snapshots=_SNAPS, pair_cap=_CAP)
    _assert_stream_batch_parity(inc, batch["scored"], v1)

    # vocabulary state equals the batch norm vocabulary (counts included)
    vocab = sorted(map(tuple, cat.read("stream_norms").select(
        F.col("snapshot_ts").cast("string"), "norm", "n_mentions").collect()))
    bnorms = sorted(map(tuple, batch["norms"].select(
        F.col("snapshot_ts").cast("string"), "norm", "n_mentions").collect()))
    assert vocab == bnorms

    # recluster induces the identical norm partition per snapshot
    def partition(df, norm_col, comp_col):
        rows = df.select(
            F.col("snapshot_ts").cast("string").alias("snap"), norm_col, comp_col
        ).collect()
        groups: dict = {}
        for r in rows:
            groups.setdefault((r["snap"], r[comp_col]), set()).add(r[norm_col])
        # set-of-frozensets: frozensets have no total order (< is
        # subset), so sorted() would compare arbitrarily
        return {frozenset((s, n) for n in v) for (s, _), v in groups.items()}

    # warm recluster resumes from wave 1's star forest unioned with
    # the grown edge list — must equal the cold/batch answer
    inc_comp = recluster(spark, cat, warm=True)
    # batch: norm → component via the surface-level assignment
    bat_norm_comp = (
        batch["surface_components"]
        .join(batch["surfaces"], ["snapshot_ts", "surface"])
        .select("snapshot_ts", "norm", "component")
        .distinct()
    )
    assert partition(inc_comp, "norm", "component") == partition(
        bat_norm_comp, "norm", "component"
    )


def test_incremental_er_rerun_is_noop(spark, tmp_path):
    """Re-running the ingest with no new files must not re-score
    anything (exactly-once file consumption via the stream checkpoint)."""
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import (
        read_scored_pairs,
        stream_incremental_er,
    )
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=20, n_entities=8, n_snapshots=2)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.write.mode("append").parquet(landing)
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    before = _canon_pairs(read_scored_pairs(spark, cat))
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    assert _canon_pairs(read_scored_pairs(spark, cat)) == before


def test_replayed_batch_does_not_double_vocab_counts(spark, tmp_path):
    """The vocab commit carries the applied (checkpoint, batch) id
    atomically; replaying an already-applied batch (here: the stream
    checkpoint is wiped so the same files come back as the same batch
    id) must leave the vocabulary counts untouched instead of
    re-folding them."""
    import shutil

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import stream_incremental_er
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=15, n_entities=6, n_snapshots=2)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.write.mode("append").parquet(landing)
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    before = sorted(
        map(tuple, cat.read("stream_norms").select("norm", "n_mentions").collect())
    )
    # wipe the stream offsets: the same files replay as batch 0 again
    shutil.rmtree(f"{cat.base}/_stream_er_ckpt")
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    after = sorted(
        map(tuple, cat.read("stream_norms").select("norm", "n_mentions").collect())
    )
    assert after == before


def test_recluster_with_empty_pair_log(spark, tmp_path):
    """A pair-log directory with no data files (first batch produced
    zero candidate pairs) must yield singleton components, not a
    schema-inference crash."""
    import os

    from pyspark.sql import functions as F

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import recluster

    cat = Catalog(spark, str(tmp_path / "er_state"))
    vocab = spark.createDataFrame(
        [("2013-01-01 00:00:00", "alpha", 3), ("2013-01-01 00:00:00", "beta", 2)],
        "snapshot_ts string, norm string, n_mentions long",
    ).select(F.to_timestamp("snapshot_ts").alias("snapshot_ts"), "norm", "n_mentions")
    cat.write(vocab, "stream_norms")
    os.makedirs(cat.path("stream_scored_pairs"))
    comp = recluster(spark, cat)
    rows = {(r["norm"], r["component"]) for r in comp.collect()}
    assert rows == {("alpha", "alpha"), ("beta", "beta")}


def test_wiped_checkpoint_with_grown_input_fails_loudly(spark, tmp_path):
    """If the stream checkpoint is wiped while the catalog state is
    kept AND new files landed, the replayed batch id carries different
    content — the ingest must error out rather than silently skip the
    new files or double-count the old ones."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import stream_incremental_er
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=16, n_entities=6, n_snapshots=2)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.filter(F.crc32("conv_id") % 2 == 0).write.mode("append").parquet(landing)
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    shutil.rmtree(f"{cat.base}/_stream_er_ckpt")
    t.filter(F.crc32("conv_id") % 2 == 1).write.mode("append").parquet(landing)
    with pytest.raises(Exception, match="mismatch"):
        stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()


def test_incremental_er_with_embeddings_matches_batch(spark, tmp_path):
    """Cached-embedding scoring: the incremental log with the same
    norm-keyed embedding table must equal the batch pipeline's scored
    pairs (reweighted cosine score included)."""
    from pyspark.sql import functions as F

    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import (
        read_scored_pairs,
        stream_incremental_er,
    )
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=30, n_entities=10, n_snapshots=2)
    plain = run_pipeline(spark, t, snapshots=_SNAPS, pair_cap=_CAP)
    # deterministic norm-keyed embeddings derived from the vocabulary
    emb = plain["norms"].select(
        "snapshot_ts",
        F.col("norm").alias("surface"),
        F.array(
            *[
                (F.pmod(F.xxhash64(F.col("norm"), F.lit(i)), F.lit(97)) / 97.0)
                for i in range(4)
            ]
        ).alias("embedding"),
    ).localCheckpoint(eager=True)

    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.filter(F.crc32("conv_id") % 2 == 0).write.mode("append").parquet(landing)
    stream_incremental_er(
        spark, landing, cat, snapshots=_SNAPS, pair_cap=_CAP, embeddings=emb
    ).awaitTermination()
    v1 = [
        (r[0], r[1])
        for r in cat.read("stream_norms")
        .select(F.col("snapshot_ts").cast("string"), "norm")
        .collect()
    ]
    t.filter(F.crc32("conv_id") % 2 == 1).write.mode("append").parquet(landing)
    stream_incremental_er(
        spark, landing, cat, snapshots=_SNAPS, pair_cap=_CAP, embeddings=emb
    ).awaitTermination()

    batch = run_pipeline(spark, t, snapshots=_SNAPS, pair_cap=_CAP, embeddings=emb)
    _assert_stream_batch_parity(read_scored_pairs(spark, cat), batch["scored"], v1)


def test_wiped_checkpoint_after_multiple_batches_fails_loudly(spark, tmp_path):
    """After ≥2 applied batches, a wiped stream checkpoint re-presents
    batch id 0 — BELOW the applied id — which would re-fold the whole
    old corpus into the vocab; the rewind must error, not proceed."""
    import shutil

    import pytest
    from pyspark.sql import functions as F

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import stream_incremental_er
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=16, n_entities=6, n_snapshots=2)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.filter(F.crc32("conv_id") % 2 == 0).write.mode("append").parquet(landing)
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    t.filter(F.crc32("conv_id") % 2 == 1).write.mode("append").parquet(landing)
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    shutil.rmtree(f"{cat.base}/_stream_er_ckpt")
    with pytest.raises(Exception, match="mismatch"):
        stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()


def test_relocated_checkpoint_over_kept_state_fails_loudly(spark, tmp_path):
    """Round-3 ADVICE (medium): running the same catalog with a NEW
    checkpoint dir bypassed the replay guard entirely (the marker's
    er_ckpt never matched), so batch 0 silently re-folded every count.
    A marker from a different checkpoint must now error out."""
    import pytest

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import stream_incremental_er
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=12, n_entities=5, n_snapshots=2)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.write.mode("append").parquet(landing)
    stream_incremental_er(
        spark, landing, cat, snapshots=_SNAPS,
        checkpoint_dir=str(tmp_path / "ck_one"),
    ).awaitTermination()
    with pytest.raises(Exception, match="mismatch"):
        stream_incremental_er(
            spark, landing, cat, snapshots=_SNAPS,
            checkpoint_dir=str(tmp_path / "ck_two"),
        ).awaitTermination()


def test_pair_log_does_not_store_embedding_arrays(spark, tmp_path):
    """Round-3 ADVICE (low): raw emb_a/emb_b arrays must not be
    appended into the immutable pair log — only the derived cosine /
    score columns (storage ∝ dim in the one never-rewritten table)."""
    from pyspark.sql import functions as F

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.streaming.incremental_er import (
        read_scored_pairs,
        stream_incremental_er,
    )
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=15, n_entities=6, n_snapshots=2)
    plain = run_pipeline(spark, t, snapshots=_SNAPS, pair_cap=_CAP)
    emb = plain["norms"].select(
        "snapshot_ts", F.col("norm").alias("surface"),
        F.array(*[(F.pmod(F.xxhash64("norm", F.lit(i)), F.lit(97)) / 97.0)
                  for i in range(4)]).alias("embedding"),
    ).localCheckpoint(eager=True)
    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    t.write.mode("append").parquet(landing)
    stream_incremental_er(
        spark, landing, cat, snapshots=_SNAPS, pair_cap=_CAP, embeddings=emb
    ).awaitTermination()
    cols = set(read_scored_pairs(spark, cat).columns)
    assert "emb_a" not in cols and "emb_b" not in cols
    assert "cosine" in cols  # the embedding-mode discriminator survives


def test_retry_after_crash_in_first_vocab_fold_matches_clean_run(spark, tmp_path):
    """A crash inside the vocabulary table's FIRST fold leaves some
    committed ``upsb=K`` buckets and no root commit. The retried batch
    must treat the table as not yet created (every norm is fresh, as in
    the crashed attempt), so its pair log after the read-side dedup and
    its vocabulary equal a clean run's."""
    import glob
    import os
    import shutil

    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import (
        read_scored_pairs,
        stream_incremental_er,
    )
    from tempel_spark.synth import synth_transcripts

    t = synth_transcripts(spark, n_convs=20, n_entities=8, n_snapshots=2)
    landing = str(tmp_path / "landing")
    t.write.mode("append").parquet(landing)

    def vocab(cat):
        return sorted(
            map(tuple, cat.read("stream_norms").select("norm", "n_mentions").collect())
        )

    clean = Catalog(spark, str(tmp_path / "clean"))
    stream_incremental_er(spark, landing, clean, snapshots=_SNAPS).awaitTermination()

    cat = Catalog(spark, str(tmp_path / "crashed"))
    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    # roll the first fold back to its crash window: half the buckets
    # committed, the root sentinel and marker never written, and the
    # stream offsets not committed, so batch 0 comes back
    root = cat.path("stream_norms")
    buckets = sorted(glob.glob(f"{root}/upsb=*"))
    assert len(buckets) >= 2
    for b in buckets[::2]:
        shutil.rmtree(b)
    os.remove(f"{root}/_SUCCESS_TEMPEL")
    os.remove(f"{root}/_inline_meta.json")
    shutil.rmtree(f"{cat.base}/_stream_er_ckpt")
    assert not cat.exists("stream_norms")

    stream_incremental_er(spark, landing, cat, snapshots=_SNAPS).awaitTermination()
    assert _canon_pairs(read_scored_pairs(spark, cat)) == _canon_pairs(
        read_scored_pairs(spark, clean)
    )
    assert vocab(cat) == vocab(clean)



def _stream_within_batch(spark, tmp_path, wave1, wave2, cap):
    """Ingest two waves with `cap`; assert that every logged pair is
    one `run_pipeline` emits on the wave-1 corpus or on the full
    corpus. Returns both batch results."""
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_er import (
        read_scored_pairs,
        stream_incremental_er,
    )

    landing = str(tmp_path / "landing")
    cat = Catalog(spark, str(tmp_path / "er_state"))
    for wave in (wave1, wave2):
        wave.write.mode("append").parquet(landing)
        stream_incremental_er(
            spark, landing, cat, snapshots=_SNAPS, pair_cap=cap
        ).awaitTermination()
    full = run_pipeline(spark, wave1.unionByName(wave2), snapshots=_SNAPS, pair_cap=cap)
    first = run_pipeline(spark, wave1, snapshots=_SNAPS, pair_cap=cap)

    def ids(df):
        return {
            tuple(r)
            for r in df.select(F.col("snapshot_ts").cast("string"), "id_a", "id_b").collect()
        }

    extra = ids(read_scored_pairs(spark, cat)) - ids(full["pairs"]) - ids(first["pairs"])
    assert not extra, f"stream pairs batch never emits: {sorted(extra)[:5]}"
    return full, first


def test_stream_caps_each_block_once_like_batch(spark, tmp_path):
    """With a pair_cap that binds, a block touched by wave 2 is capped
    once over all of its members, as batch caps it: the stream log
    holds only pairs that batch emits on the wave-1 corpus or on the
    full corpus, never a fresh norm paired past the cap."""
    from tempel_spark.plans.pipeline import build_block_keys
    from tempel_spark.synth import synth_transcripts

    cap = 3
    t = synth_transcripts(spark, n_convs=50, n_entities=14, n_snapshots=2)
    full, first = _stream_within_batch(
        spark, tmp_path,
        t.filter(F.crc32("conv_id") % 2 == 0), t.filter(F.crc32("conv_id") % 2 == 1), cap,
    )
    # the cap binds on a block that holds a norm new in wave 2
    new = full["norms"].join(first["norms"], ["snapshot_ts", "norm"], "left_anti")
    keys = build_block_keys(full["norms"])
    touched = keys.join(new.select("snapshot_ts", "norm"), ["snapshot_ts", "norm"], "leftsemi")
    sizes = keys.join(
        touched.select("snapshot_ts", "block_key").distinct(), ["snapshot_ts", "block_key"]
    ).groupBy("snapshot_ts", "block_key").count()
    assert sizes.filter(F.col("count") > cap).count() > 0


def test_stream_caps_first_token_group_once_like_batch(spark, tmp_path):
    """The bipartite first-token family under a binding cap: batch
    pairs the abbreviation "ox" with its 3 most frequent full forms
    only, so the rare "ox delta" arriving in wave 2 must not pair with
    it. No other family links the two (no shared character 3-gram,
    no shared sorted-token or prefix key, not sorted neighbors)."""
    import datetime as dt

    from tempel_spark.streaming.incremental import TRANSCRIPT_SCHEMA

    def wave(conv, anchors):
        rows = [
            (conv, i, "user", f"about [[{a}]] today", "", dt.datetime(2012, 6, 1, 0, i))
            for i, a in enumerate(anchors)
        ]
        return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

    w1 = wave("c1", ["Ox"] + ["Ox alpha", "Ox beta", "Ox gamma"] * 5)
    w2 = wave("c2", ["Ox delta"])
    full, _ = _stream_within_batch(spark, tmp_path, w1, w2, cap=3)
    # the first-token group is past the cap: 4 full forms for one abbreviation
    assert full["norms"].filter(F.col("norm").startswith("ox ")).count() == 4