"""Cached-embedding cosine feature in the ER pipeline (the optional
fourth scoring feature the north_star names; reference s05 entity
encodings → F16 dot products)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tempel_spark.functions.hashing import fingerprint64

SNAPSHOTS = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]


def _stub_embeddings(surfaces):
    """Deterministic 8-d embedding per NORMALIZED surface (the pair
    ids are norms since the round-2 norm pivot) from md5-derived floats
    of the NORMALIZED form — so case variants of one name share an
    embedding (cosine 1.0), like a real encoder would place them."""
    dims = [
        (fingerprint64(F.concat(F.lit(f"d{i}:"), F.col("norm"))) % 1000).cast("float") / 1000.0
        for i in range(8)
    ]
    return surfaces.select(
        "snapshot_ts", F.col("norm").alias("surface"), F.array(*dims).alias("embedding")
    ).distinct()


def test_pipeline_with_embedding_cosine(spark):
    from tempel_spark.plans.pipeline import extract_mention_table, run_pipeline
    from tempel_spark.synth import synth_transcripts
    from tempel_spark.operators.blocking import norm_key

    t = synth_transcripts(spark, n_convs=40, n_entities=10, n_snapshots=3)
    mentions = extract_mention_table(t, SNAPSHOTS)
    surfaces = (
        mentions.select("snapshot_ts", "surface").distinct().withColumn("norm", norm_key("surface"))
    )
    emb = _stub_embeddings(surfaces)

    res = run_pipeline(spark, t, snapshots=SNAPSHOTS, embeddings=emb)
    sc = res["scored"]
    assert "cosine" in sc.columns
    rows = sc.collect()
    assert len(rows) > 0
    # every pair found an embedding (vocabulary join is total here)
    assert all(r.cosine is not None for r in rows)

    # embeddings-off run still produces identical COMPONENTS here
    # (stub cosine is norm-keyed so it never flips a decision for this corpus)
    base = run_pipeline(spark, t, snapshots=SNAPSHOTS)
    a = sorted(map(tuple, base["components"].collect()))
    b = sorted(map(tuple, res["components"].collect()))
    assert len(a) == len(b)


def test_missing_embeddings_fall_back_to_string_score(spark):
    from tempel_spark.operators.scoring import score_pairs

    df = spark.createDataFrame(
        [
            ("a1", "b1", "granite ember", "granite embers", [1.0, 0.0], [1.0, 0.0]),
            ("a2", "b2", "granite ember", "granite embers", None, [1.0, 0.0]),
        ],
        "id_a string, id_b string, norm_a string, norm_b string, "
        "emb_a array<double>, emb_b array<double>",
    )
    out = score_pairs(df)
    got = {r.id_a: r for r in out.collect()}
    assert got["a1"].cosine is not None
    assert got["a2"].cosine is None
    assert got["a2"].score is not None  # fell back to string-only score
    # identical string features → only the cosine path differs
    assert abs(got["a1"].jaro_winkler - got["a2"].jaro_winkler) < 1e-12


def test_conflicting_duplicate_embeddings_ignore_row_order(spark):
    """Two different cached vectors for one norm: the pipeline keeps
    the same one whichever order the table's rows arrive in, so a pair
    scores identically and appears exactly once."""
    import datetime as dt

    from tempel_spark.operators.blocking import norm_key
    from tempel_spark.plans.pipeline import extract_mention_table, run_pipeline

    ts = dt.datetime(2014, 6, 1)
    t = spark.createDataFrame(
        [
            ("conv_1", 0, "user", "I met [[Granite Ember]] today", "", ts),
            ("conv_2", 0, "user", "and [[Granite Embers]] again", "", ts),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    norms = (
        extract_mention_table(t, SNAPSHOTS)
        .select("snapshot_ts", norm_key("surface").alias("surface"))
        .distinct()
    )

    def vec(x, y):
        return F.array(F.lit(x), F.lit(y)).cast("array<float>").alias("embedding")

    base = norms.select("snapshot_ts", "surface", vec(1.0, 0.0))
    other = norms.filter(F.col("surface") == "granite ember").select(
        "snapshot_ts", "surface", vec(0.0, 1.0)
    )
    runs = []
    for emb in (base.unionByName(other), other.unionByName(base)):
        scored = run_pipeline(spark, t, snapshots=SNAPSHOTS, embeddings=emb.coalesce(1))["scored"]
        key = ["snapshot_ts", "id_a", "id_b"]
        keyed = scored.select(*key, *[c for c in scored.columns if c not in key])
        runs.append(sorted(map(tuple, keyed.collect())))
    assert runs[0] == runs[1]
    ids = [r[:3] for r in runs[0]]
    assert len(ids) == len(set(ids)) > 0
