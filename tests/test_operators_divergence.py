"""Pin the DOCUMENTED divergence from the reference's containment
must-link rule (ADVICE r1: the 'parity' oracle proves spec-
consistency, so the one deliberate spec deviation gets its own
explicit fixture).

Reference rule (s03_final_dataset_creator_utils.py:634-641 via
one_string_in_another, s02_alias_table_generator.py:29-47): two
mentions must-link when either whole-word-contains the other,
ANYWHERE in the string.

Engine rule (operators/scoring.py): NO containment-shaped pair is an
unconditional link — every token-subset with different token counts
is is_partial → resolved to its top-1 completion by frequency prior
(+ optional context). A unique completion resolves identically to a
containment link; with several completions the unconditional rule
welds every completion into one cluster transitively (observed as a
mega-merge on large corpora), which is exactly why the reference's
rule is not reproduced here.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F


def _plan_nodes(df):
    """(operator name, line) for each node line of the executed plan's
    tree string; tree edges and whole-stage-codegen ids are stripped."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [
        (m.group(1), line)
        for line in plan.splitlines()
        if (m := re.match(r"[\s:|+-]*(?:\*\(\d+\) )?(\w+)", line))
    ]


def _score(spark, a, b):
    from tempel_spark.operators.scoring import score_pairs

    df = spark.createDataFrame([(a, b)], "norm_a string, norm_b string")
    return score_pairs(df).first()


def test_containment_rule_divergence(spark):
    from tempel_spark.functions.text import whole_word_contains

    # the case the rules disagree on: interior whole-word containment
    a, b = "raven willow", "juniper raven willow"

    # reference's one_string_in_another: TRUE → it would must-link
    ref = spark.createDataFrame([(a, b)], "a string, b string").select(
        whole_word_contains("a", "b").alias("c")
    ).first()
    assert ref.c is True

    # engine: NOT a must-link; it is a partial (prior-resolved) pair
    r = _score(spark, a, b)
    assert not r.must_link
    assert r.is_partial and not r.is_match

    # prefix containment is ALSO partial (prior-resolved) — with a
    # unique completion the top-1 edge reproduces the link, without
    # the multi-completion mega-merge
    r2 = _score(spark, "juniper raven", "juniper raven willow")
    assert not r2.must_link
    assert r2.is_partial and not r2.is_match


def test_reference_containment_used_where_it_belongs(spark):
    """The literal reference rule drives subset-clustering leakage
    control (its original context): interior-contained surfaces of
    ONE entity land in the same train/val/test subset."""
    from tempel_spark.plans.dataset_creator import assign_subsets_leakage_safe

    rows = [
        ("e1", "2013-01-01", "raven willow", 5),
        ("e1", "2013-01-01", "juniper raven willow", 4),
        ("e1", "2013-01-01", "quartz vein", 3),
    ]
    stats = spark.createDataFrame(
        rows, "entity_id string, snapshot_ts string, surface string, nr_links long"
    )
    out = {r.surface: r.subset for r in assign_subsets_leakage_safe(stats).collect()}
    assert out["raven willow"] == out["juniper raven willow"]


def test_score_pairs_schema_and_single_eval_shape(spark):
    """Round-6 optimization guard: the shared token-array features run
    through ONE Generate (inline of a bound struct) so the decision
    columns reference attributes instead of inlined copies of the
    split trees — and the helper fields never leak into the output
    schema."""
    from tempel_spark.operators.scoring import score_pairs

    df = spark.createDataFrame(
        [("granite ember", "granite embers"), ("falcon", "falcon krypton")],
        "norm_a string, norm_b string",
    )
    out = score_pairs(df)
    assert out.columns == [
        "norm_a", "norm_b",
        "ratio_edit_distance", "jaccard", "jaro_winkler",
        "score", "must_link", "is_partial", "is_match",
    ]
    nodes = _plan_nodes(out)
    # exactly one Generate carries the feature struct; the split trees
    # appear once per side inside it (bound via bind_once), in no other
    # plan node
    generates = [line for name, line in nodes if name == "Generate"]
    assert len(generates) == 1
    for side in ("split(norm_a", "split(norm_b"):
        assert [line for _, line in nodes if side in line] == generates
        assert generates[0].count(side) == 1
    rows = {(r["norm_a"], r["norm_b"]): r for r in out.collect()}
    r1 = rows[("falcon", "falcon krypton")]
    assert r1["is_partial"] and not r1["is_match"]
    r2 = rows[("granite ember", "granite embers")]
    assert r2["must_link"] and r2["is_match"]


def test_score_pairs_rescores_scored_frame(spark):
    """Re-scoring an already-scored frame (a pair log fed back in)
    replaces every score column: same schema and rows as scoring the
    bare pairs, no ambiguous-column error."""
    from tempel_spark.operators.scoring import score_pairs

    df = spark.createDataFrame(
        [("granite ember", "granite embers"), ("falcon", "falcon krypton"), ("raven", "quartz vein")],
        "norm_a string, norm_b string",
    )
    once = score_pairs(df)
    twice = score_pairs(once)
    assert twice.columns == once.columns
    assert sorted(map(tuple, twice.collect())) == sorted(map(tuple, once.collect()))
