"""Mid-clustering resumability: the per-iteration durable edge-state
checkpoint warm-starts to the identical fixed point."""

from __future__ import annotations

import tempfile


def test_cc_warm_start_reaches_same_fixed_point(spark):
    from tempel_spark.operators.clustering import _large_star, _small_star, connected_components

    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40) if i % 7]  # chains with breaks
        + [("a", "b"), ("b", "c"), ("z", "a")],
        "id_a string, id_b string",
    )
    full = connected_components(edges, shuffle_partitions=4)
    assert full.converged

    # simulate a crash after ONE iteration: take the intermediate edge
    # state and resume from it
    import pyspark.sql.functions as F

    e0 = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b")).distinct()
    partial = _small_star(_large_star(e0))
    resumed = connected_components(edges, shuffle_partitions=4, resume_state=partial)
    assert resumed.converged

    a = sorted(map(tuple, full.components.collect()))
    b = sorted(map(tuple, resumed.components.collect()))
    assert a == b


def test_pipeline_cc_durable_checkpoint(spark):
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.synth import synth_transcripts

    snaps = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]
    t = synth_transcripts(spark, n_convs=30)
    with tempfile.TemporaryDirectory(prefix="ccres_") as tmp:
        cat = Catalog(spark, tmp)
        r1 = run_pipeline(spark, t, catalog=cat, snapshots=snaps)
        comp1 = sorted(map(tuple, r1["components"].collect()))
        assert cat.exists("cc_edges")  # per-iteration durable state published
        # a rerun (components checkpoint present) returns identical output
        r2 = run_pipeline(spark, t, catalog=cat, snapshots=snaps)
        assert sorted(map(tuple, r2["components"].collect())) == comp1

def test_pipeline_cc_force_rerun_ignores_stale_edges(spark):
    """ADVICE r1 (high): a force=True rerun with a changed threshold
    must NOT warm-start CC from the previous run's cc_edges — the old
    state describes a different match graph. The fingerprint gate
    invalidates it; the rerun must equal a fresh run at the new
    threshold."""
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.sources.catalog import Catalog
    from tempel_spark.synth import synth_transcripts

    snaps = [f"{y}-01-01 00:00:00" for y in (2013, 2014)]
    t = synth_transcripts(spark, n_convs=25)
    import tempfile

    with tempfile.TemporaryDirectory(prefix="ccstale_") as tmp:
        cat = Catalog(spark, tmp)
        run_pipeline(spark, t, catalog=cat, snapshots=snaps, threshold=0.75)
        assert cat.exists("cc_edges")
        # tighten the threshold drastically → far fewer match edges.
        # force recompute; resume state must be discarded, not reused.
        r_strict = run_pipeline(
            spark, t, catalog=cat, snapshots=snaps, threshold=0.999, force=True
        )
        cols = ["snapshot_ts", "surface", "component"]
        strict = sorted(map(tuple, r_strict["surface_components"].select(*cols).collect()))
        fresh = run_pipeline(spark, t, snapshots=snaps, threshold=0.999)
        expected = sorted(map(tuple, fresh["surface_components"].select(*cols).collect()))
        assert strict == expected


def test_cc_edges_fingerprint_gates_warm_start(spark):
    """Same inputs → warm start allowed; changed edge input with a
    surviving cc_edges checkpoint → cold start (stale state deleted)."""
    import tempfile

    from tempel_spark.sources.catalog import Catalog

    with tempfile.TemporaryDirectory(prefix="ccfp_") as tmp:
        cat = Catalog(spark, tmp)
        df = spark.createDataFrame([("a", "b")], "a string, b string")
        cat.write(df, "cc_edges")
        cat.put_meta("cc_edges", {"edges_n": 1, "edges_hash": 123})
        assert cat.get_meta("cc_edges") == {"edges_n": 1, "edges_hash": 123}
        cat.delete("cc_edges")
        assert not cat.exists("cc_edges")
        assert cat.get_meta("cc_edges") is None


def test_bucketed_stage_resume_no_shuffle(spark, tmp_path):
    """write_bucketed_stage survives a session restart (simulated by
    dropping the table registration — the external data stays) and a
    resumed read still joins Exchange-free on the bucket key."""
    import pyspark.sql.functions as F

    from tempel_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ckpt"))
    mentions = spark.range(0, 3000).select(
        F.concat(F.lit("c"), F.col("id") % 200).alias("component"),
        F.col("id").alias("mention_id"),
    )
    entities = spark.range(0, 200).select(
        F.concat(F.lit("c"), F.col("id")).alias("component"),
        F.concat(F.lit("e"), F.col("id")).alias("entity"),
    )
    cat.write_bucketed_stage(mentions, "b_m", ("component",), n_buckets=8)
    cat.write_bucketed_stage(entities, "b_e", ("component",), n_buckets=8)
    # simulate a fresh session: registrations gone, data + sidecar remain
    spark.sql(f"DROP TABLE {cat._tbl('b_m')}")
    spark.sql(f"DROP TABLE {cat._tbl('b_e')}")
    assert cat.exists("b_m") and cat.exists("b_e")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = cat.read("b_m").join(cat.read("b_e"), "component")
        phys = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in phys, phys
        assert j.count() == 3000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # a plain write() over the bucketed stage must forget the bucket
    # layout — read() then goes through plain parquet, not a stale
    # bucket spec over non-bucketed files
    cat.write(entities, "b_e")
    assert cat._get_bucket_spec("b_e") is None
    assert not spark.catalog.tableExists(cat._tbl("b_e"))
    assert cat.read("b_e").count() == 200
    cat.delete("b_m")
    cat.delete("b_e")


def test_catalog_swap_recovery(spark, tmp_path):
    """A crash inside the publish swap leaves either a complete
    .__tmp_ or a displaced .__old_ dir; exists()/read() must heal
    both instead of reporting the stage lost."""
    import os

    from pyspark.sql import functions as F

    from tempel_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "c"))
    cat.write(spark.range(5).select(F.col("id")), "s")
    final = cat.path("s")
    # crash between rename(final -> old) and rename(tmp -> final)
    os.rename(final, final + ".__old_deadbeef")
    assert cat.exists("s")
    assert cat.read("s").count() == 5
    # crash between the tmp publish completing and the swap: a
    # sentinel-bearing tmp dir and no final
    cat.write(spark.range(7).select(F.col("id")), "s")
    os.rename(cat.path("s"), cat.path("s") + ".__tmp_feedface")
    assert cat.exists("s")
    assert cat.read("s").count() == 7


def test_bucketed_stage_quoted_columns_survive_restart(spark, tmp_path):
    """The bucket spec persists the full typed schema (schema.json),
    so column names that need quoting (spaces, ':', ',', backticks)
    and non-default nullability re-register correctly after a session
    restart — the simpleString DDL round-trip broke on all of these
    (round-3 ADVICE)."""
    import pyspark.sql.functions as F

    from tempel_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ckpt"))
    df = spark.range(0, 100).select(
        F.col("id").alias("key col"),                 # space
        (F.col("id") * 2).alias("a:b"),               # colon (DDL splitter)
        F.concat(F.lit("v"), F.col("id")).alias("x,y"),  # comma
        F.col("id").cast("int").alias("tick`mark"),   # backtick
    )
    cat.write_bucketed_stage(df, "b_q", ("key col",), n_buckets=4)
    # fresh-session simulation: registration gone, files + sidecar stay
    spark.sql(f"DROP TABLE {cat._tbl('b_q')}")
    back = cat.read("b_q")
    assert back.columns == ["key col", "a:b", "x,y", "tick`mark"]
    assert back.count() == 100
    assert back.filter(F.col("`tick``mark`") == 7).count() == 1
    cat.delete("b_q")


def test_bucket_spec_without_schema_json_is_refused(spark, tmp_path):
    """A bucket spec of the older format (a simpleString `schema_ddl`,
    no `schema_json`) is not re-registered after a session restart:
    reading the stage fails naming it and the way to rebuild it."""
    import json

    import pytest

    from tempel_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path / "ckpt"))
    df = spark.range(0, 20).selectExpr("id AS k", "id * 2 AS v")
    cat.write_bucketed_stage(df, "b_old", ("k",), n_buckets=4)
    spec_path = f"{cat.path('b_old')}/_bucket_spec.json"
    with open(spec_path) as fh:
        spec = json.load(fh)
    del spec["schema_json"]
    spec["schema_ddl"] = "k:bigint,v:bigint"
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    spark.sql(f"DROP TABLE {cat._tbl('b_old')}")
    with pytest.raises(ValueError, match="'b_old'.*write_bucketed_stage"):
        cat.read("b_old")
    cat.delete("b_old")
