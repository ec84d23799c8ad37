"""Full reference-shape run: 10 yearly cuts 2013-2022 (the default,
mirroring s01_config_content.json:29-40), per-snapshot oracle parity."""

from __future__ import annotations

from tempel_spark.operators.asof import yearly_snapshots
from tests.reference_oracle import cluster_transcripts, pairwise_f1_partitions


def test_pipeline_ten_snapshots_oracle_parity(spark):
    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.synth import synth_transcripts

    snaps = yearly_snapshots()
    # corpus spans 9 years → mentions land in (almost) every cut
    t = synth_transcripts(spark, n_convs=80, n_entities=14, n_snapshots=9, with_gold=True).cache()
    res = run_pipeline(spark, t.drop("gold_entity_id", "surface"))  # default snapshots

    comp = res["components"].collect()
    pred = {f"{r.snapshot_ts:%Y-%m-%d %H:%M:%S}@{r.mention_id}": r.component for r in comp}
    snap_set = {k.split("@")[0] for k in pred}
    assert len(snap_set) >= 8, f"expected mentions across ≥8 cuts, got {sorted(snap_set)}"

    rows = [
        (r.conv_id, r.turn_idx, r.text, r.ts)
        for r in t.select("conv_id", "turn_idx", "text", "ts").collect()
    ]
    oracle = cluster_transcripts(rows, snaps)
    assert set(pred) == set(oracle)
    for s in sorted(snap_set):
        p = {k: v for k, v in pred.items() if k.startswith(s)}
        g = {k: v for k, v in oracle.items() if k.startswith(s)}
        f1 = pairwise_f1_partitions(p, g)
        assert f1 >= 0.99, f"snapshot {s}: F1 {f1:.4f}"
