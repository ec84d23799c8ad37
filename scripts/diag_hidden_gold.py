"""Diagnostic: hidden-gold F1 per snapshot + residual error listing.

Replicates tests/test_pipeline.py::test_context_disambiguation_hidden_gold
and prints which occurrences are mis-clustered and why (prior vs
co-mention vs cosine routing)."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tempel_spark.operators.metrics import pairwise_f1
from tempel_spark.plans.pipeline import run_pipeline
from tempel_spark.session import get_spark
from tempel_spark.synth import synth_transcripts

SNAPSHOTS = [f"{y}-01-01 00:00:00" for y in (2013, 2014, 2015, 2016)]


def main() -> None:
    # ablation variants: pass kw=val pairs of disambiguate_occurrences
    # tuning keywords (dim, seed, sample_per_surface, stop_df, margin,
    # conv_vote), e.g.
    #   python scripts/diag_hidden_gold.py stop_df=0.1 margin=0.02 conv_vote=1
    import tempel_spark.operators.context_disambig as cd

    defaults = inspect.signature(cd.disambiguate_occurrences).parameters
    variant: dict = {}
    brief = False
    for a in sys.argv[1:]:
        if a == "brief":
            brief = True
            continue
        k, v = a.split("=", 1)
        if k not in defaults or defaults[k].default is inspect.Parameter.empty:
            sys.exit(f"unknown ablation keyword {k!r}")
        kind = type(defaults[k].default)
        variant[k] = (v not in ("0", "false", "False")) if kind is bool else kind(v)
    if variant:
        orig = cd.disambiguate_occurrences

        def patched(*args, **kw):
            kw.update(variant)
            return orig(*args, **kw)

        cd.disambiguate_occurrences = patched
        print("variant:", variant)

    spark = get_spark("diag", cpus=8)
    t = synth_transcripts(
        spark, n_convs=120, n_entities=24, n_snapshots=3, with_gold=True
    ).cache()
    trans = t.drop("gold_entity_id", "surface")
    res = run_pipeline(spark, trans, snapshots=SNAPSHOTS, context_dim=64)
    gold = (
        res["mentions"]
        .join(t.select("conv_id", "turn_idx", "gold_entity_id"), ["conv_id", "turn_idx"])
        .select("mention_id", "gold_entity_id", "snapshot_ts")
    )
    rows = pairwise_f1(
        res["components"].withColumnRenamed("mention_id", "node"),
        gold.withColumnRenamed("mention_id", "node"),
        group_cols=["snapshot_ts"],
    ).collect()
    for r in sorted(rows, key=lambda r: str(r.snapshot_ts)):
        print(f"F1 {r.snapshot_ts}: {r.f1:.4f}  (p={r.precision:.4f} r={r.recall:.4f})")
    if brief:
        return

    # majority-gold per component → mis-assigned mentions
    j = (
        res["components"]
        .join(gold, ["snapshot_ts", "mention_id"])
        .join(res["mentions"].select("snapshot_ts", "mention_id", "surface", "conv_id"),
              ["snapshot_ts", "mention_id"])
    ).cache()
    maj = (
        j.groupBy("snapshot_ts", "component", "gold_entity_id")
        .count()
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window
                .partitionBy("snapshot_ts", "component")
                .orderBy(F.desc("count"), "gold_entity_id")
            ),
        )
        .filter("rn = 1")
        .select("snapshot_ts", "component", F.col("gold_entity_id").alias("maj_gold"))
    )
    errs = (
        j.join(maj, ["snapshot_ts", "component"])
        .filter(F.col("gold_entity_id") != F.col("maj_gold"))
        .select("snapshot_ts", "surface", "conv_id", "mention_id",
                "gold_entity_id", "component", "maj_gold")
        .orderBy("snapshot_ts", "surface", "mention_id")
    )
    e = errs.collect()
    print(f"\n{len(e)} minority-gold mentions (component majority disagrees):")
    for r in e[:60]:
        print(f"  {str(r.snapshot_ts)[:10]} surf={r.surface!r} conv={r.conv_id} "
              f"gold={r.gold_entity_id} comp={r.component!r} maj={r.maj_gold}")

    # also: components whose mentions split one gold entity (recall errors)
    split = (
        j.groupBy("snapshot_ts", "gold_entity_id")
        .agg(F.countDistinct("component").alias("ncomp"),
             F.collect_set("component").alias("comps"))
        .filter("ncomp > 1")
        .orderBy("snapshot_ts", "gold_entity_id")
    )
    s = split.collect()
    print(f"\n{len(s)} gold entities split across components:")
    for r in s[:40]:
        print(f"  {str(r.snapshot_ts)[:10]} {r.gold_entity_id}: {sorted(r.comps)}")


if __name__ == "__main__":
    main()
