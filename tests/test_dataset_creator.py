"""s03 dataset-assembly invariants (reference asserts:
balanced totals s03:580-604/1009-1033, no-duplicate subset tuples
s03_utils:141-143, quota feasibility s03:594-610, leakage-safe
must-link clustering s03_utils:611-665)."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _sequential_round_robin(caps: list[int], quota: int) -> list[int]:
    """The reference's literal one-at-a-time allocator
    (s03_final_dataset_creator_utils.py:160-169): visit rows in order,
    +1 to any row with spare capacity, until quota or everything full."""
    alloc = [0] * len(caps)
    total = 0
    progressed = True
    while total < quota and progressed:
        progressed = False
        for i, c in enumerate(caps):
            if total >= quota:
                break
            if alloc[i] < c:
                alloc[i] += 1
                total += 1
                progressed = True
    return alloc


def test_alloc_matches_sequential(spark):
    """Closed-form water-filling == the reference's sequential loop,
    over randomized (seeded) cap/quota cases."""
    from tempel_spark.operators.balance import capped_round_robin_alloc

    rng = random.Random(7)
    rows = []
    expected = {}
    for g in range(40):
        k = rng.randint(1, 8)
        caps = sorted(rng.randint(0, 12) for _ in range(k))
        quota = rng.randint(0, sum(caps) + 3)
        expected[g] = dict(enumerate(_sequential_round_robin(caps, quota)))
        for i, c in enumerate(caps):
            rows.append((g, i, c, quota))
    df = spark.createDataFrame(rows, "grp int, item int, cap int, quota int")
    out = capped_round_robin_alloc(
        df, group_cols=["grp"], cap_col="cap", quota_col="quota", order_col="item"
    )
    got = {(r.grp, r.item): r.alloc for r in out.collect()}
    for g, allocs in expected.items():
        for i, a in allocs.items():
            assert got[(g, i)] == a, f"group {g} item {i}: got {got[(g, i)]} want {a}"


def _stats(spark):
    """Small deterministic alias-stats fixture: 6 entities × 3 cuts,
    surfaces engineered so e0 has a must-link pair and entities differ
    in volume."""
    rows = []
    cuts = ["2013-01-01", "2014-01-01", "2015-01-01"]
    surfaces = {
        "e0": [("Granite Ember", 6), ("granite ember", 4), ("The GE Corp", 3), ("Zeta", 2)],
        "e1": [("Falcon", 5), ("Falcon Krypton", 4), ("Blue Jay", 3)],
        "e2": [("Alpha One", 8), ("Beta Two", 6), ("Gamma Three", 4)],
        "e3": [("Delta", 3), ("Epsilon", 3), ("Zetta Watt", 3)],
        "e4": [("Iron Oak", 9), ("Silver Fir", 2), ("Copper Elm", 5)],
        "e5": [("Quartz", 4), ("Quartz Vein", 4), ("Mica Schist", 4)],
    }
    for e, surfs in surfaces.items():
        for ci, cut in enumerate(cuts):
            for s, n in surfs:
                rows.append((e, f"{cut} 00:00:00", s, n + ci))  # volumes drift per cut
    return spark.createDataFrame(
        rows, "entity_id string, snapshot_ts string, surface string, nr_links long"
    ).withColumn("snapshot_ts", F.to_timestamp("snapshot_ts"))


def test_dataset_creator_invariants(spark):
    from tempel_spark.plans.dataset_creator import create_dataset

    stats = _stats(spark)
    res = create_dataset(stats, max_mentions_per_entity=10)

    assigned = res["assigned"]
    quotas = res["quotas"].cache()
    allocations = res["allocations"].cache()

    # must-link: identical-after-normalization surfaces share a subset
    e0 = {r.surface: r.subset for r in assigned.filter(F.col("entity_id") == "e0").collect()}
    assert e0["Granite Ember"] == e0["granite ember"]

    # no duplicate (entity, cut, subset) quota tuples (s03_utils:141-143)
    n = quotas.count()
    nd = quotas.select("entity_id", "snapshot_ts", "subset").distinct().count()
    assert n == nd

    # per-subset totals EQUAL across cuts (s03:580-604)
    totals = (
        quotas.groupBy("subset", "snapshot_ts").agg(F.sum("quota").alias("tot"))
        .groupBy("subset")
        .agg(F.countDistinct("tot").alias("k"), F.min("tot").alias("t"))
        .collect()
    )
    assert totals, "no subsets survived"
    for r in totals:
        assert r.k == 1, f"subset {r.subset} unbalanced across cuts"
        assert r.t > 0

    # every quota > 0 (s03:594-596)
    assert quotas.filter(F.col("quota") <= 0).count() == 0

    # allocation: sums to quota, never exceeds per-surface capacity
    bad_cap = allocations.filter(F.col("n_to_extract") > F.col("nr_links")).count()
    assert bad_cap == 0
    sums = (
        allocations.groupBy("entity_id", "snapshot_ts", "subset")
        .agg(F.sum("n_to_extract").alias("got"), F.first("quota").alias("want"))
        .filter(F.col("got") != F.col("want"))
        .count()
    )
    assert sums == 0

    # fully-covered filter: every surviving entity has every subset in every cut
    cover = (
        res["covered"].groupBy("entity_id", "snapshot_ts")
        .agg(F.countDistinct("subset").alias("ns"))
        .filter(F.col("ns") != 3)
        .count()
    )
    assert cover == 0


def test_dataset_creator_deterministic(spark):
    from tempel_spark.plans.dataset_creator import create_dataset

    stats = _stats(spark)
    a = create_dataset(stats, max_mentions_per_entity=10)["allocations"]
    b = create_dataset(stats, max_mentions_per_entity=10)["allocations"]
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_quality_filters_and_coverage(spark):
    from tempel_spark.plans.dataset_creator import (
        apply_quality_filters,
        entities_in_all_snapshots,
    )

    stats = _stats(spark)
    f = apply_quality_filters(stats, {"nr_links": ("min", 4)})
    assert f.filter(F.col("nr_links") < 4).count() == 0
    import pytest

    with pytest.raises(ValueError):
        apply_quality_filters(stats, {"no_such_col": ("min", 1)})

    # drop e5 from one cut → it must not survive the intersection
    holey = stats.filter(
        ~((F.col("entity_id") == "e5") & (F.col("snapshot_ts") == "2014-01-01 00:00:00"))
    )
    surv = entities_in_all_snapshots(holey)
    assert surv.filter(F.col("entity_id") == "e5").count() == 0
    assert surv.filter(F.col("entity_id") == "e1").count() > 0


def test_entities_in_all_snapshots_rejects_null_cut(spark):
    """A NULL snapshot_ts is not a cut the census can count: instead of
    silently qualifying entities without it, the query fails with a
    message naming the column."""
    import pytest

    from tempel_spark.plans.dataset_creator import entities_in_all_snapshots

    stats = spark.createDataFrame(
        [("e1", "2013-01-01", 3), ("e1", "2014-01-01", 2), ("e2", "2013-01-01", 4), ("e2", None, 1)],
        "entity_id string, snapshot_ts string, nr_links long",
    )
    with pytest.raises(Exception, match="NULL snapshot_ts"):
        entities_in_all_snapshots(stats).collect()
    # without the NULL row the same frame resolves normally
    ok = entities_in_all_snapshots(stats.filter(F.col("snapshot_ts").isNotNull()))
    assert sorted(r.entity_id for r in ok.select("entity_id").distinct().collect()) == ["e1"]


def test_dataset_end_to_end_with_mentions(spark, tmp_path):
    """Full flow incl. instance pick + context windows + fan-out sink."""
    from tempel_spark.plans.dataset_creator import create_dataset

    stats = _stats(spark)
    # occurrence table: nr_links occurrences per (cut, surface) row
    occ = (
        stats.select(
            "snapshot_ts",
            "surface",
            F.posexplode(F.sequence(F.lit(1), F.col("nr_links"))).alias("_p", "_i"),
        )
        .withColumn("mention_id", F.concat_ws(":", "surface", "snapshot_ts", "_i"))
        .withColumn("text", F.concat(F.lit("lead text "), F.col("surface"), F.lit(" trail text")))
        .withColumn("span_start", F.lit(10))
        .drop("_p", "_i")
    )
    path = str(tmp_path / "fanout")
    res = create_dataset(stats, mentions=occ, max_mentions_per_entity=10, fanout_path=path)
    dm = res["dataset_mentions"].cache()
    # every allocation satisfied exactly (occurrences >= n_to_extract by construction)
    # note: same surface may serve multiple entities; per (cut,subset,surface)
    # the pick takes max(n_to_extract) rows — check per-alloc coverage instead
    got = {
        (str(r.snapshot_ts), r.subset, r.surface): r.n
        for r in dm.groupBy("snapshot_ts", "subset", "surface").agg(F.count("*").alias("n")).collect()
    }
    for r in res["allocations"].collect():
        assert got.get((str(r.snapshot_ts), r.subset, r.surface), 0) >= r.n_to_extract
    # context windows actually cut around the span
    row = dm.first()
    assert row.context_left.endswith("lead text "[-len(row.context_left):]) or row.context_left == ""
    # fan-out layout on disk: snapshot_ts=.../subset=... directories
    import os

    parts = [p for p in os.listdir(path) if p.startswith("snapshot_ts=")]
    assert parts
    sub = os.listdir(os.path.join(path, parts[0]))
    assert any(s.startswith("subset=") for s in sub)


def test_dataset_from_er_pipeline(spark, tmp_path):
    """The reference's own composition: ER pipeline output (s01/s02
    analogue) feeds the dataset creator (s03). Entities = resolved
    clusters; quotas balance across cuts; fan-out lands per
    (snapshot, subset)."""
    from tempel_spark.plans.dataset_creator import create_dataset, stats_from_pipeline
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.synth import synth_transcripts

    snaps = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]
    trans = synth_transcripts(spark, n_convs=120, n_entities=16, n_snapshots=3)
    res = run_pipeline(spark, trans, snapshots=snaps)
    stats = stats_from_pipeline(res)

    occurrences = res["mentions"].join(
        trans.select("conv_id", "turn_idx", "text"), ["conv_id", "turn_idx"]
    )
    path = str(tmp_path / "ds")
    # ER-resolved clusters hold lexically-similar members by
    # construction → the reference's containment link would collapse
    # each entity to one subset-cluster; corpus-appropriate leakage
    # config is ratio-only must-links and a train/test split
    ds = create_dataset(
        stats,
        mentions=occurrences,
        subsets=("train", "test"),
        containment_links=False,
        max_mentions_per_entity=30,
        fanout_path=path,
    )

    quotas = ds["quotas"].cache()
    totals = (
        quotas.groupBy("subset", "snapshot_ts").agg(F.sum("quota").alias("t"))
        .groupBy("subset").agg(F.countDistinct("t").alias("k")).collect()
    )
    assert totals and all(r.k == 1 for r in totals)
    assert quotas.filter("quota <= 0").count() == 0

    dm = ds["dataset_mentions"].cache()
    assert dm.count() > 0
    # every emitted mention row has real context cut from the turn text
    assert dm.filter(F.col("context_right") == "").count() == 0
    # fan-out directory structure exists
    import os

    parts = [p for p in os.listdir(path) if p.startswith("snapshot_ts=")]
    assert parts


def test_new_entities_dataset(spark):
    """The NEW-entities category (s03:616-1036): birth-cut scoping,
    per-cut entity-count equalization, positional cross-cut
    balancing — totals per (subset, cut) land on the subset minimum."""
    from tempel_spark.plans.dataset_creator import (
        assign_birth_cut,
        create_new_entities_dataset,
    )

    cuts = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015)]
    rows, created = [], []
    # 9 entities born across 3 cuts (3 per cut), each with 3 surfaces
    # in every cut from birth on — only the birth cut's rows count
    for i in range(9):
        birth_year = 2013 + (i % 3)
        created.append((f"n{i}", f"{birth_year - 1}-06-01 00:00:00"))
        for y in range(birth_year, 2016):
            for s, links in [("Able Co", 4 + i), ("Baker Inc", 3 + i), ("Cable Ltd", 2 + i)]:
                rows.append((f"n{i}", f"{y}-01-01 00:00:00", f"{s} {i}", links))
    stats = spark.createDataFrame(
        rows, "entity_id string, snapshot_ts string, surface string, nr_links long"
    ).withColumn("snapshot_ts", F.to_timestamp("snapshot_ts"))
    cdf = spark.createDataFrame(created, "entity_id string, created_ts string").withColumn(
        "created_ts", F.to_timestamp("created_ts")
    )

    # birth scoping: every surviving row sits in its entity's birth cut
    scoped = assign_birth_cut(stats, cdf, cuts)
    births = {r.entity_id: str(r.snapshot_ts)[:4] for r in scoped.select("entity_id", "snapshot_ts").distinct().collect()}
    for i in range(9):
        assert births[f"n{i}"] == str(2013 + (i % 3))
    assert scoped.select("entity_id", "snapshot_ts").distinct().count() == 9

    res = create_new_entities_dataset(
        stats, cdf, cuts,
        containment_links=False, max_mentions_per_entity=8,
    )
    quotas = res["quotas"].cache()
    # entity counts equal per cut after equalization
    per_cut = (
        res["equalized"].select("snapshot_ts", "entity_id").distinct()
        .groupBy("snapshot_ts").count().select("count").distinct().collect()
    )
    assert len(per_cut) == 1
    # per-subset totals equal across cuts, all quotas >= 1
    t = (
        quotas.groupBy("subset", "snapshot_ts").agg(F.sum("quota").alias("t"))
        .groupBy("subset").agg(F.countDistinct("t").alias("k")).collect()
    )
    assert t and all(r.k == 1 for r in t)
    assert quotas.filter("quota < 1").count() == 0
    # allocations within caps and summing to quotas
    al = res["allocations"]
    assert al.filter(F.col("n_to_extract") > F.col("nr_links")).count() == 0
    bad = (
        al.groupBy("entity_id", "snapshot_ts", "subset")
        .agg(F.sum("n_to_extract").alias("got"), F.first("quota").alias("want"))
        .filter("got != want").count()
    )
    assert bad == 0

    # determinism
    res2 = create_new_entities_dataset(
        stats, cdf, cuts,
        containment_links=False, max_mentions_per_entity=8,
    )
    assert sorted(map(tuple, quotas.collect())) == sorted(map(tuple, res2["quotas"].collect()))


def test_instance_pick_entity_aware_join(spark):
    """r2 ADVICE: a surface mapped to TWO entities in the alias table
    must not fan one occurrence out to both — with entity_id on the
    mention table the pick joins on it; without it the ambiguity
    raises instead of silently duplicating mention_ids."""
    import pytest

    from tempel_spark.plans.dataset_creator import select_mention_instances

    al = spark.createDataFrame(
        [("e1", "2014-01-01", "train", "acme", 2),
         ("e2", "2014-01-01", "train", "acme", 1)],
        "entity_id string, snapshot_ts string, subset string, surface string, n_to_extract int",
    )
    occ = spark.createDataFrame(
        [("2014-01-01", "acme", f"m{i}", "lead acme trail", 5,
          "e1" if i < 4 else "e2") for i in range(6)],
        "snapshot_ts string, surface string, mention_id string, "
        "text string, span_start int, entity_id string",
    )
    picked = select_mention_instances(occ, al)
    rows = picked.collect()
    # exactly n_to_extract per (entity, subset); no mention serves two entities
    per_entity = {}
    for r in rows:
        per_entity.setdefault(r.entity_id, set()).add(r.mention_id)
    assert len(per_entity["e1"]) == 2 and len(per_entity["e2"]) == 1
    assert not (per_entity["e1"] & per_entity["e2"])
    picked_ids = {r.mention_id for r in rows}
    assert len(picked_ids) == len(rows) == 3

    # without entity_id the ambiguity raises at ACTION time (lazy
    # in-plan assert_true — no eager job at plan construction)
    plan = select_mention_instances(occ.drop("entity_id"), al)
    with pytest.raises(Exception, match="entity_id"):
        plan.count()

    # cross-SUBSET ambiguity must raise too: the guard keys on
    # (snapshot, surface) like the join, not on (snapshot, subset,
    # surface) — e1→train + e2→test for one surface still fans
    al_cross = spark.createDataFrame(
        [("e1", "2014-01-01", "train", "acme", 1),
         ("e2", "2014-01-01", "test", "acme", 1)],
        "entity_id string, snapshot_ts string, subset string, surface string, n_to_extract int",
    )
    with pytest.raises(Exception, match="entity_id"):
        select_mention_instances(occ.drop("entity_id"), al_cross).count()

    # unambiguous allocations still flow through the guard untouched
    al_ok = al.filter(F.col("entity_id") == "e1")
    assert select_mention_instances(occ.drop("entity_id"), al_ok).count() == 2
