"""spark-submit entry point.

Cluster usage (north rule deployment shape):

    zip -r engine.zip intelligent_log_analysis_anomaly_detection_tool_spark oracle
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --input <iceberg-table-or-parquet-dir> --output out/ \
        --buckets 64 [--synth N_CONVS]

A re-run on the same --output resumes from the bucket manifests. The
output layout (routed anomalies, parsed turns, time series, reports, run
metrics) is documented in sinks.py.

Local sandbox usage:

    python jobs/run_pipeline.py --synth 200 --output /tmp/out --buckets 8
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="iceberg table or parquet dir of transcripts")
    ap.add_argument("--synth", type=int, help="synthesize N conversations instead")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--graphs", action="store_true",
                    help="render the S9 dashboard (12 SVG charts + index.html) "
                         "into <output>/graphs from the written sinks")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        completed_buckets,
        run_resumable,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark
    from intelligent_log_analysis_anomaly_detection_tool_spark.sources.transcripts import (
        read_transcripts,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.synth import synth_spark

    # a parquet-dir input engages per-job derived split sizing
    # (session.derive_max_partition_bytes): splits follow
    # input_bytes/(waves x cores) clamped to [24 MB, 128 MB]
    input_dir = args.input if args.input and os.path.isdir(args.input) else None
    spark = get_spark(master=args.master, app_name="run-pipeline",
                      input_path=input_dir)
    spark.sparkContext.setLogLevel("WARN")

    if args.synth:
        transcripts = synth_spark(spark, 42, args.synth)
    elif args.input:
        transcripts = read_transcripts(spark, args.input)
    else:
        ap.error("one of --input / --synth is required")

    already = completed_buckets(args.output)
    processed = run_resumable(
        spark, transcripts, args.output, n_buckets=args.buckets
    )
    graphs: list[str] = []
    if args.graphs:
        from intelligent_log_analysis_anomaly_detection_tool_spark.dashboard import (
            write_dashboard,
        )

        graphs = write_dashboard(
            os.path.join(args.output, "graphs"),
            spark.read.parquet(os.path.join(args.output, "parsed")),
            spark.read.parquet(os.path.join(args.output, "timeseries_minute")),
        )

    print(json.dumps({
        "resumed_from": sorted(already),
        "processed": {str(k): v for k, v in processed.items()},
        "graphs": graphs,
    }, indent=2))


if __name__ == "__main__":
    main()
