#!/usr/bin/env python
"""spark-submit entry point for the ER pipeline (north_rule: "runs via
spark-submit --py-files on a multi-executor cluster").

  spark-submit --py-files tempel_spark.zip scripts/run_pipeline.py \
      --input /data/transcripts --catalog /warehouse/er_ckpt \
      --snapshots 2013-01-01,2014-01-01,... [--synth N_CONVS] [--force]

On a cluster the session comes from spark-submit's conf (master,
executors); locally it falls back to the local[] factory. The run is
resumable: re-submitting after a failure skips every stage already
published to the catalog.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from tempel_spark.operators.scoring import MATCH_THRESHOLD

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (input_hint schema)")
    ap.add_argument("--synth", type=int, default=0, help="synthesize N conversations instead of --input")
    ap.add_argument("--catalog", required=True, help="checkpoint catalog base path")
    ap.add_argument("--snapshots", default=",".join(f"{y}-01-01" for y in range(2013, 2023)))
    ap.add_argument("--threshold", type=float, default=MATCH_THRESHOLD)
    ap.add_argument("--force", action="store_true", help="recompute even if checkpoints exist")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from tempel_spark.plans.pipeline import run_pipeline
    from tempel_spark.sources.catalog import Catalog

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
    else:
        try:  # under spark-submit the builder inherits submitted conf
            spark = SparkSession.builder.getOrCreate()
        except Exception:  # noqa: BLE001
            from tempel_spark.session import get_spark

            spark = get_spark("run_pipeline")
    # permissive semantics to match the library's session factory
    # (sentinel casts → null, reference-style; DEFAULT_CONF)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    snaps = [s if " " in s else f"{s} 00:00:00" for s in args.snapshots.split(",")]
    if args.synth:
        from tempel_spark.synth import synth_transcripts

        transcripts = synth_transcripts(spark, n_convs=args.synth)
    else:
        if not args.input:
            ap.error("one of --input / --synth is required")
        transcripts = spark.read.parquet(args.input)

    cat = Catalog(spark, args.catalog)
    res = run_pipeline(spark, transcripts, catalog=cat, snapshots=snaps,
                       threshold=args.threshold, force=args.force)
    stats = {
        "mentions": res["mentions"].count(),
        "surfaces": res["surfaces"].count(),
        "pairs": res["pairs"].count(),
        "components": res["components"].count(),
    }
    cat.log_metrics("run_pipeline", stats)
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
