"""spark-submit entry point for the streaming extraction path.

    spark-submit --py-files dist/nilinker_spark.zip jobs/run_stream.py \
        --input /path/to/webtext_parquet --output /path/to/mentions \
        --checkpoint /path/to/stream_ckpt [--first-seen /path/to/forms]

Drains everything currently in --input (availableNow) and exits;
re-running resumes from the streaming checkpoint (exactly-once file
sink).  --first-seen additionally maintains the stateful cross-batch
first-seen forms table, fed from the drained mentions in --output.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--first-seen", default=None, help="optional first-seen forms output dir")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("nilinker_spark_stream").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from nilinker_spark.fixtures.kb import make_kb
    from nilinker_spark.streaming.extract_stream import (
        drain,
        read_webtext_stream,
        stream_mentions,
    )

    stream = read_webtext_stream(spark, args.input)
    mentions = stream_mentions(spark, stream, make_kb(seed=42).gazetteer)
    drain(mentions, args.output, args.checkpoint)
    if args.first_seen:
        from nilinker_spark.streaming.stateful import first_seen_forms

        # a file source over the drained table: each page is extracted once
        drained = spark.readStream.schema(mentions.schema).parquet(args.output)
        drain(first_seen_forms(drained), args.first_seen, args.checkpoint + "_firstseen")
    print(f"stream drained to {args.output}")
    spark.stop()


if __name__ == "__main__":
    main()
