"""Unit tests per operator (SURVEY.md §5 strategy item 1)."""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import functions as F


def test_connected_components_known_graph(spark):
    from tempel_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")], "id_a string, id_b string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("d",), ("e",), ("f",), ("g",)], "node string")
    res = connected_components(edges, nodes=nodes)
    assert res.converged
    got = {r.node: r.component for r in res.components.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d", "f": "f", "g": "g"}


def test_connected_components_chain(spark):
    """Pathological chain (worst case for min-propagation) — large/small
    star still converges in O(log n) rounds."""
    from tempel_spark.operators.clustering import connected_components

    n = 64
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(n - 1)], "id_a string, id_b string"
    )
    res = connected_components(edges)
    assert res.converged
    comps = {r.component for r in res.components.collect()}
    assert comps == {"n000"}
    assert res.iterations <= 10


def test_cc_local_contract_parity_and_fewer_rounds(spark, monkeypatch):
    """The partition-local union-find pre-pass must not change the
    components — only the number of global star rounds (each round is
    a driver barrier, so fewer rounds = less serial time)."""
    from tempel_spark.operators import clustering
    from tempel_spark.operators.clustering import connected_components

    edges = spark.createDataFrame(
        # a 61-node chain + a separate clique + a singleton self-loop
        [(f"c{i:03d}", f"c{i+1:03d}") for i in range(60)]
        + [("k1", "k2"), ("k2", "k3"), ("k1", "k3"), ("z", "z")],
        "id_a string, id_b string",
    )
    # no-contraction baseline: a resume state skips the union-find
    # pass, so the raw edges go straight into the star loop
    raw = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    base = connected_components(edges, shuffle_partitions=4, resume_state=raw)
    fast = connected_components(edges, shuffle_partitions=4)
    # SINGLE_TASK_EDGES=0 exercises the DISTRIBUTED contraction branch
    # (multi-partition union-find) on the same fixture
    monkeypatch.setattr(clustering, "SINGLE_TASK_EDGES", 0)
    dist = connected_components(edges, shuffle_partitions=4)
    exp = {r.node: r.component for r in base.components.collect()}
    got = {r.node: r.component for r in fast.components.collect()}
    got_dist = {r.node: r.component for r in dist.components.collect()}
    assert base.converged and fast.converged and dist.converged
    assert got == exp
    assert got_dist == exp
    # single-task contraction solves the graph outright: the output is
    # a star forest (the large/small-star fixed point), so no
    # verification round runs at all
    assert fast.iterations == 0
    assert dist.iterations <= base.iterations


def test_alias_table_invariants(spark):
    from tempel_spark.operators.alias_table import build_alias_table

    links = spark.createDataFrame(
        [
            ("apple", "E1", 1), ("apple", "E1", 1), ("apple", "E2", 1),
            ("banana", "E2", 1), ("Banana", "E2", 1), ("apple", "E1", 2),
        ],
        "mention_text string, target_id string, snapshot_ts int",
    )
    at = build_alias_table(links).cache()
    # prior sums to 1 per (snapshot, mention)
    sums = at.groupBy("snapshot_ts", "mention_norm").agg(F.round(F.sum("prior"), 9).alias("s")).collect()
    assert all(abs(r.s - 1.0) < 1e-9 for r in sums)
    # dense ranks start at 1
    assert at.agg(F.min("prior_rank")).collect()[0][0] == 1
    row = {(r.snapshot_ts, r.mention_norm, r.entity_id): r for r in at.collect()}
    assert row[(1, "apple", "E1")].nr_links == 2
    assert abs(row[(1, "apple", "E1")].prior - 2 / 3) < 1e-12
    assert row[(1, "banana", "E2")].nr_links == 2  # case-normalized merge
    # entity_prior sums to ~1 per snapshot over distinct entities
    ep = (
        at.select("snapshot_ts", "entity_id", "entity_prior").distinct()
        .groupBy("snapshot_ts").agg(F.sum("entity_prior").alias("s")).collect()
    )
    assert all(abs(r.s - 1.0) < 1e-9 for r in ep)


def test_asof_stable_version(spark):
    from tempel_spark.operators.asof import asof_stable_version

    rows = [
        # page A: stable old revision, then a fresh edit right before the cut
        ("A", dt.datetime(2013, 1, 1)), ("A", dt.datetime(2013, 12, 25)),
        # page B: single old revision
        ("B", dt.datetime(2013, 6, 1)),
    ]
    df = spark.createDataFrame(rows, "page string, rev_ts timestamp")
    out = asof_stable_version(
        df, ["page"], snapshots=["2014-01-01 00:00:00"],
        min_days_stable=10, max_look_back_days=30,
    )
    got = {r.page: r.rev_ts for r in out.collect()}
    # A's Dec-25 revision is un-superseded and only 7 days old at the
    # cut (< 30d look-back) → unstable; falls back to the secured
    # Jan-1 (reference: only a successor or the look-back secures a
    # revision, wikipedia_history_reader.py:262-299)
    assert got["A"] == dt.datetime(2013, 1, 1)
    assert got["B"] == dt.datetime(2013, 6, 1)  # B: > 30d old → secured by look-back

    # now supersede the Dec-25 edit 2 days later: lived 2d (<10d min),
    # age at cut 7d (<30d look-back) ⇒ demoted to the Jan-1 stable one
    rows2 = rows + [("A", dt.datetime(2013, 12, 27))]
    df2 = spark.createDataFrame(rows2, "page string, rev_ts timestamp")
    out2 = asof_stable_version(
        df2, ["page"], snapshots=["2014-01-01 00:00:00"],
        min_days_stable=10, max_look_back_days=30,
    )
    got2 = {r.page: r.rev_ts for r in out2.collect()}
    assert got2["A"] == dt.datetime(2013, 1, 1)


def test_minhash_matches_hashlib(spark):
    from tempel_spark.operators.blocking import minhash_signature

    df = spark.createDataFrame([("Granite Ember",)], "s string")
    got = df.select(minhash_signature("s", n_hashes=3).alias("sig")).collect()[0].sig
    norm = "granite ember"
    shingles = [norm[i : i + 3] for i in range(len(norm) - 2)]
    for seed in range(3):
        exp = min(hashlib.md5(f"mh{seed}:{sh}".encode()).hexdigest() for sh in shingles)
        assert got[seed] == exp


def test_pairwise_f1_known(spark):
    from tempel_spark.operators.metrics import pairwise_f1

    pred = spark.createDataFrame(
        [("a", "c1"), ("b", "c1"), ("c", "c2"), ("d", "c2")], "node string, component string"
    )
    gold = spark.createDataFrame(
        [("a", "g1"), ("b", "g1"), ("c", "g1"), ("d", "g2")], "node string, gold_entity_id string"
    )
    r = pairwise_f1(pred, gold).collect()[0]
    # pred pairs: {ab, cd}; gold pairs: {ab, ac, bc}; tp = {ab}
    assert r.tp == 1.0 and r.pred_pairs == 2.0 and r.gold_pairs == 3.0
    assert abs(r.f1 - 2 * 0.5 * (1 / 3) / (0.5 + 1 / 3)) < 1e-12


def test_acc_at_k_known(spark):
    from tempel_spark.operators.metrics import acc_at_k

    rows = [
        ("q1", 0.9, False), ("q1", 0.8, True), ("q1", 0.7, False),
        ("q2", 0.9, True), ("q2", 0.1, False),
        ("q3", 0.9, False), ("q3", 0.8, False),
    ]
    df = spark.createDataFrame(rows, "mention_id string, score double, correct boolean")
    r = acc_at_k(df, ks=[1, 2]).collect()[0]
    assert r.n_queries == 3
    assert abs(r.acc_at_1 - 1 / 3) < 1e-12
    assert abs(r.acc_at_2 - 2 / 3) < 1e-12


def test_mention_extraction_rules(spark):
    from tempel_spark.functions.mentions import extract_mentions

    rows = [
        ("c1", 0, dt.datetime(2013, 1, 1), "see [[Python (language)|]] and [[file:x.png]] plus [[plain link]]"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, snapshot_ts timestamp, text string")
    got = {(r.mention_text, r.target_id) for r in extract_mentions(df).collect()}
    # pipe trick resolves to "Python"; file: namespace dropped;
    # plain link canonicalizes target with underscores + capital
    assert ("Python", "Python_(language)") in got
    assert ("plain link", "Plain_link") in got
    assert all("file" not in t.lower() for _, t in got)


def test_salt_blocks(spark):
    from tempel_spark.operators.blocking import salt_blocks

    df = spark.createDataFrame(
        [("hot", f"id{i}") for i in range(100)] + [("cold", "x")], "k string, id string"
    )
    out = salt_blocks(df, "k", "id", n_salt=4, hot_threshold=50).cache()
    hot_keys = {r.salted_key for r in out.filter("k = 'hot'").collect()}
    assert len(hot_keys) > 1 and all(k.startswith("hot#") for k in hot_keys)
    cold = out.filter("k = 'cold'").collect()[0]
    assert cold.salted_key == "cold"


def test_clean_wikitext(spark):
    from tempel_spark.functions.text import clean_wikitext_udf

    raw = "{{Infobox|a={{nested}}}}'''Bold''' text<!-- c --> <ref>x</ref> end ==References== junk"
    df = spark.createDataFrame([(raw,)], "text string")
    got = df.select(clean_wikitext_udf("text").alias("c")).collect()[0].c
    assert got == "Bold text end"


def test_convert_template_expansion():
    """r2 VERDICT #2: convert-family templates EXPAND to readable text
    (the reference's API-dictionary path, cleaning.py:72-170) instead
    of being stripped.  Expected strings are live-template renderings;
    the first is the reference's own in-code example
    (cleaning.py:23 'is [[Karman Line|{{convert|100|km|mi|abbr=on}}]]
    a weapon?')."""
    from tempel_spark.functions.text import _clean_one
    from tempel_spark.functions.wikitemplates import expand_convert

    assert expand_convert("100|km|mi|abbr=on") == "100 km (62 mi)"
    assert expand_convert("5|km|mi") == "5 kilometres (3.1 mi)"
    assert expand_convert("200|m|ft") == "200 metres (660 ft)"
    assert expand_convert("42.195|km|mi") == "42.195 kilometres (26.219 mi)"
    assert expand_convert("37|C|F") == "37 °C (99 °F)"
    assert expand_convert("10|mi|km") == "10 miles (16 km)"
    assert expand_convert("1|km|mi") == "1 kilometre (0.62 mi)"
    assert expand_convert("5|to|10|km") == "5 to 10 kilometres (3.1 to 6.2 mi)"
    # default target unit when none given; explicit trailing precision
    assert expand_convert("100|km") == "100 kilometres (62 mi)"
    assert expand_convert("80|to|140|ft2|m2|0") == "80 to 140 square feet (7 to 13 m2)"
    # dimension mismatch / unknown unit degrade to deletion — the
    # reference's own no-API behavior (cleaning.py:103-104)
    assert expand_convert("5|km|kg") == ""
    assert expand_convert("5|furlongs") == ""
    # an unknown REQUESTED target also deletes — never silently
    # substitutes the default target ('10|km|cubit' must not render mi)
    assert expand_convert("10|km|cubit") == ""

    # round-4 forms (VERDICT r3 Next #7) — live-template renderings:
    # thousands separators on 4+-digit integer parts, both sides
    assert expand_convert("1609.344|m|ft") == "1,609.344 metres (5,280.00 ft)"
    assert expand_convert("10000|m|ft") == "10,000 metres (33,000 ft)"
    assert expand_convert("10000|m|ft|comma=off") == "10000 metres (33000 ft)"
    # spell= spells integer values in words (In/On capitalize; a
    # spelled output takes the unit name, never the symbol)
    assert expand_convert("15|ft|m|spell=in") == "fifteen feet (4.6 m)"
    assert expand_convert("15|ft|m|spell=In") == "Fifteen feet (4.6 m)"
    assert expand_convert("10|mi|km|spell=on") == "ten miles (sixteen kilometres)"
    assert expand_convert("121|ft|m|spell=in") == "one hundred twenty-one feet (37 m)"
    # adj=mid splices its mid-word into the adjectival form, with or
    # without an explicit target unit
    assert expand_convert("10|mi|km|adj=mid|-long") == "10-mile-long (16 km)"
    assert expand_convert("10|mi|adj=mid|-long") == "10-mile-long (16 km)"
    # new unit tranche: nautical, knots, stone, short ton, power, fine
    # lengths, volumes
    assert expand_convert("20|kn|km/h") == "20 knots (37 km/h)"
    assert expand_convert("12|st|kg") == "12 stone (76 kg)"
    assert expand_convert("100|hp|kW") == "100 horsepower (75 kW)"
    assert expand_convert("2500|kW|hp") == "2,500 kilowatts (3,400 hp)"
    assert expand_convert("1852|m|nmi") == "1,852 metres (1.000 nmi)"
    assert expand_convert("5|ST|t") == "5 short tons (4.5 t)"
    assert expand_convert("5|ml|USfloz") == "5 millilitres (0.17 US fl oz)"
    assert expand_convert("250|um|in") == "250 micrometres (0.0098 in)"
    # second tranche: energy / small-area / GW (renderings computed by
    # the documented rounding rule; family-convention defaults)
    assert expand_convert("500|kcal|kJ") == "500 kilocalories (2,100 kJ)"
    assert expand_convert("2000|kJ|kcal") == "2,000 kilojoules (480 kcal)"
    assert expand_convert("100|kWh|MJ") == "100 kilowatt-hours (360 MJ)"
    assert expand_convert("1.5|GW|hp") == "1.5 gigawatts (2,000,000 hp)"
    assert expand_convert("4|sqin|cm2") == "4 square inches (26 cm2)"
    assert expand_convert("2000|kcal") == "2,000 kilocalories (8,400 kJ)"
    # energy never converts into power or area (dimension check holds
    # for the new tags too)
    assert expand_convert("5|kJ|kW") == ""
    # third tranche: pressure / force / astronomy / displacement
    # (14.7 psi → 101 kPa verified against the live template rendering)
    assert expand_convert("14.7|psi|kPa") == "14.7 pounds per square inch (101 kPa)"
    assert expand_convert("1013|hPa|inHg") == "1,013 hectopascals (29.9 inHg)"
    assert expand_convert("760|mmHg|kPa") == "760 millimetres of mercury (101 kPa)"
    assert expand_convert("500|kN|lbf") == "500 kilonewtons (110,000 lbf)"
    assert expand_convert("1|AU|km") == "1 astronomical unit (150,000,000 km)"
    assert expand_convert("1|pc|ly") == "1 parsec (3.3 ly)"
    assert expand_convert("350|cuin|cc") == "350 cubic inches (5,700 cc)"
    assert expand_convert("5|psi") == "5 pounds per square inch (34 kPa)"
    assert expand_convert("5|kPa|kg") == ""  # pressure never → mass
    # round-5 tranche (VERDICT r4 Next #7): automotive torque + fuel
    # economy (the INVERSE conversion family: mpg ↔ L/100 km), TNT
    # yield (renders exactly the live examples: 15 ktTNT → 63 TJ,
    # 1 tTNT → 4.2 GJ), petroleum barrels, bulk volumes
    assert expand_convert("250|Nm|lbft") == "250 newton-metres (180 lb⋅ft)"
    assert expand_convert("300|Nm|lbft|abbr=on") == "300 N⋅m (220 lb⋅ft)"
    assert expand_convert("100|lbft|Nm") == "100 pound feet (140 N⋅m)"
    assert expand_convert("30|mpgUS|L/100 km") == "30 miles per US gallon (7.8 L/100 km)"
    assert expand_convert("7.8|L/100 km|mpgUS") == "7.8 litres per 100 kilometres (30 mpg-US)"
    assert expand_convert("30|mpgUS|mpgimp") == "30 miles per US gallon (36 mpg-imp)"
    assert expand_convert("0|L/100 km|mpgUS") == ""  # zero through inverse
    assert expand_convert("15|ktTNT") == "15 kilotons of TNT (63 TJ)"
    assert expand_convert("1|tTNT") == "1 ton of TNT (4.2 GJ)"
    assert expand_convert("20|MtTNT") == "20 megatons of TNT (84 PJ)"
    assert expand_convert("1000|oilbbl|m3") == "1,000 barrels (160 m3)"
    assert expand_convert("10|cuyd|m3") == "10 cubic yards (7.6 m3)"
    assert expand_convert("2|km3|cumi") == "2 cubic kilometres (0.48 cu mi)"
    assert expand_convert("100|J|ftlbf") == "100 joules (74 ft⋅lbf)"
    assert expand_convert("5|Nm|kg") == ""  # torque never → mass
    assert expand_convert("30|mpgUS|km") == ""  # fuel economy never → length

    # mid-sentence expansion through the full cleaner, nested in nowrap
    raw = ("The {{nowrap|{{convert|42.195|km|mi}}}} marathon at "
           "{{convert|37|C|F}} uses {{chem|H|2|O}} and {{IAST|jala}} "
           "{{SubatomicParticle|Electron}} beams&nbsp;daily.")
    assert _clean_one(raw) == (
        "The 42.195 kilometres (26.219 mi) marathon at 37 °C (99 °F) "
        "uses H2O and jala e− beams daily."
    )
