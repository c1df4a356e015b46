"""Production job entry point — ships via spark-submit --py-files.

    spark-submit --master <cluster> \
        --py-files dist/beats_spark.zip \
        --conf spark.driver.defaultJavaOptions="-XX:Tier4InvocationThreshold=50000 -XX:Tier4MinInvocationThreshold=6000 -XX:Tier4CompileThreshold=150000" \
        jobs/run_pipeline.py \
        --input /root/testdata/sf0.01 --output /tmp/out --job-id run-42

The driver JVM is already running when this script calls get_spark, so the
JIT flags of `session.DRIVER_JAVA_OPTIONS` reach it only through --conf.

Runs the full parse → enrich → route DAG with per-stage observe() metrics,
writes every sink through the checkpoint manifest (resumable: re-running
with the same --job-id skips committed sinks), then emits the per-sink
aggregates, conversation rollups, and the stage lineage as JSON on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="sf dir with events.parquet")
    p.add_argument("--output", required=True, help="sink base directory")
    p.add_argument("--job-id", required=True)
    p.add_argument("--replicate", type=int, default=1)
    p.add_argument("--salt-buckets", type=int, default=0,
                   help=">0: salted repartition on conv_id before routing")
    p.add_argument("--fail-after", type=int, default=None,
                   help="test hook: crash after N sink commits")
    args = p.parse_args(argv)

    # imports AFTER argparse so --help works without a JVM
    from pyspark.sql import functions as F

    from beats_spark.checkpoint import checkpointed_fan_out, read_manifest
    from beats_spark.data.transcripts import load_transcripts
    from beats_spark.metrics import PipelineMetrics, with_standard_metrics
    from beats_spark.pipeline import (
        combined_aggregates,
        enrich_stage,
        parse_stage,
        route_stage,
    )
    from beats_spark.routing import DEAD_LETTER
    from beats_spark.scale import repartition_salted
    from beats_spark.session import get_spark

    spark = get_spark(app_name=f"beats-spark-{args.job_id}")
    m = PipelineMetrics()

    t = load_transcripts(spark, args.input, replicate=args.replicate)
    t = m.observe(t, "scan")
    parsed = with_standard_metrics(m, parse_stage(t), "parse")
    enriched = m.observe(enrich_stage(parsed), "enrich")
    if args.salt_buckets > 0:
        enriched = repartition_salted(enriched, "conv_id", args.salt_buckets)
    routed = m.observe(
        route_stage(enriched), "route",
        deadletter=F.sum(F.when(F.col("_sink") == DEAD_LETTER, 1).otherwise(0)),
    )

    manifest = checkpointed_fan_out(
        routed, args.output, job_id=args.job_id, fail_after=args.fail_after
    )

    sink_aggs, rollups = combined_aggregates(spark.read.parquet(args.output))
    aggs = [r.asDict() for r in sink_aggs.collect()]
    n_convs = rollups.count()

    print(json.dumps({
        "job_id": args.job_id,
        "sinks": {k: v["rows"] for k, v in read_manifest(args.output)["sinks"].items()},
        "aggregates": aggs,
        "n_conversations": n_convs,
        "lineage": m.lineage(),
    }, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
