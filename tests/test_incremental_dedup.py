"""Dedup-on-ingest (streaming winnow near-dup): the accumulated pair
log after two landing waves must equal batch `winnow_similar_pairs`
over the full corpus when the df cap doesn't bind, and the replay
guard must refuse a re-pointed checkpoint over kept state."""

from __future__ import annotations

import pytest

_K, _W, _MS = 8, 4, 2
_BIG = 10**6  # df cap must not bind for exact batch parity


def _docs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    return spark.createDataFrame(
        [
            (1, base + " lambda mu"),
            (2, base + " nu xi omicron"),
            (3, "one two three four five six seven eight nine ten"),
            (4, base + " pi rho sigma"),
            (5, "eleven twelve thirteen fourteen fifteen sixteen"),
        ],
        "doc_id long, text string",
    )


def test_incremental_winnow_matches_batch(spark, tmp_path):
    from tempel_spark.operators.dedup import winnow_similar_pairs
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_dedup import (
        read_winnow_pairs,
        stream_incremental_winnow,
    )

    df = _docs(spark)
    landing = str(tmp_path / "docs")
    cat = Catalog(spark, str(tmp_path / "wn_state"))

    df.filter("doc_id <= 3").write.mode("append").parquet(landing)
    stream_incremental_winnow(
        spark, landing, cat, k=_K, w=_W, max_df=_BIG, min_shared=_MS
    ).awaitTermination()
    wave1 = {
        (r.id_a, r.id_b): r.n_shared
        for r in read_winnow_pairs(spark, cat).collect()
    }
    assert (1, 2) in wave1  # the wave-1 near-dup surfaces immediately

    df.filter("doc_id > 3").write.mode("append").parquet(landing)
    stream_incremental_winnow(
        spark, landing, cat, k=_K, w=_W, max_df=_BIG, min_shared=_MS
    ).awaitTermination()

    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in read_winnow_pairs(spark, cat).collect()
    }
    want = {
        (r.id_a, r.id_b): r.n_shared
        for r in winnow_similar_pairs(
            df, k=_K, w=_W, max_df=_BIG, min_shared=_MS
        ).collect()
    }
    assert got == want
    assert {(1, 2), (1, 4), (2, 4)} <= set(got)
    assert not any(3 in p or 5 in p for p in got)


def test_incremental_winnow_replay_guard(spark, tmp_path):
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.streaming.incremental_dedup import stream_incremental_winnow

    df = _docs(spark)
    landing = str(tmp_path / "docs")
    cat = Catalog(spark, str(tmp_path / "wn_state"))
    df.write.mode("append").parquet(landing)
    stream_incremental_winnow(
        spark, landing, cat, k=_K, w=_W, checkpoint_dir=str(tmp_path / "ck1")
    ).awaitTermination()

    # a FRESH checkpoint over kept state would replay every file and
    # re-fold applied df counts — must fail loudly, not corrupt
    with pytest.raises(Exception, match="checkpoint"):
        stream_incremental_winnow(
            spark, landing, cat, k=_K, w=_W, checkpoint_dir=str(tmp_path / "ck2")
        ).awaitTermination()
