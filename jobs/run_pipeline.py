"""spark-submit entry point for the ER pipeline.

Usage (north-rule launch shape):

    python jobs/package.py                       # builds dist/nilinker_spark.zip
    spark-submit --py-files dist/nilinker_spark.zip jobs/run_pipeline.py \
        --input /path/to/webtext_parquet \
        --checkpoint /path/to/ckpt \
        --output /path/to/resolved

On a real cluster the same command with ``--master yarn|k8s://...`` and
executor confs runs unchanged: the job only uses SparkSession + the
packaged module (no driver-local state beyond the seeded KB fixture).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="webtext parquet dir (url, warc_ts, html, text, lang)")
    ap.add_argument("--checkpoint", required=True, help="stage checkpoint dir (tables + snapshot logs)")
    ap.add_argument("--output", required=True, help="resolved-mentions output parquet dir")
    ap.add_argument("--tau", type=float, default=None, help="edge threshold override")
    from nilinker_spark.pipeline import STAGES

    ap.add_argument(
        "--stop-after", default=None, choices=STAGES, help="stop after this stage (resume test hook)"
    )
    ap.add_argument(
        "--incremental",
        action="store_true",
        help="treat --input as an APPEND to a completed run at --checkpoint: "
        "only new documents are scanned and only never-seen forms are "
        "scored (Pipeline.run_incremental); clusters equal a from-scratch run",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("nilinker_spark_pipeline").getOrCreate()
    # engine conf is additive — spark-submit --conf flags win where set
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from nilinker_spark.fixtures.kb import make_kb
    from nilinker_spark.oracle import TAU
    from nilinker_spark.pipeline import Pipeline

    kb = make_kb(seed=42)
    pipe = Pipeline(spark, kb, args.checkpoint, tau=args.tau if args.tau is not None else TAU)
    webtext = spark.read.parquet(args.input)
    if args.incremental:
        resolved = pipe.run_incremental(webtext)
    else:
        resolved = pipe.run(webtext, stop_after=args.stop_after)
    if resolved is not None:
        resolved.write.mode("overwrite").parquet(args.output)
        print(f"resolved written to {args.output}")
    else:
        print(f"stopped after stage {args.stop_after} (checkpoints in {args.checkpoint})")
    spark.stop()


if __name__ == "__main__":
    main()
