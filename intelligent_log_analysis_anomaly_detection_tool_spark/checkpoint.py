"""Checkpoint/resume with per-partition lineage (north rule; no reference
analogue — the C++ tool is one process, one file, restart-from-zero).

Input is bucketed by conversation: ``bucket = pmod(xxhash64(conv_id), P)``.
Because every stateful operator is keyed per conv_id, a bucket is a closed
semantic unit — buckets can be processed independently, in any order, and a
re-run of a bucket is deterministic. That is exactly what makes the run
resumable:

- each completed bucket commits a manifest JSON (atomic write-then-rename)
  under ``<out>/_checkpoints/`` recording its lineage: input rows, parsed,
  malformed, per-detector anomaly counts
- its data lands under ``bucket=<k>/`` subdirectories of
  ``anomalies_routed/`` (partitioned by ``bucket`` and ``sink_name``) and
  ``parsed/`` (a partition commit, mirroring an Iceberg append per bucket);
  the two writes overwrite dynamically, so only the batch's own bucket
  directories are replaced
- after the last batch, ``sinks.write_run_sinks`` reads both back once and
  writes the run-level sinks, ``run_metrics.json`` last. It runs when this
  invocation committed a bucket or ``run_metrics.json`` is missing, so a
  crash after the last manifest is repaired on resume and a no-op resume
  writes nothing. ``sinks.py`` documents the whole layout
- on resume, completed buckets are skipped by manifest lookup (the anti-join
  is against a tiny driver-side set, so it compiles to a pushed-down filter
  on the bucket column, not a shuffle)

On a real cluster each bucket batch is one Spark job; bucket count P trades
off resume granularity vs job overhead (at 10^12 turns, P ~ 10k buckets of
~100 GB each keeps both sane).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .sinks import RUN_METRICS, route_anomalies, write_json_atomic, write_run_sinks


def with_bucket(transcripts: DataFrame, n_buckets: int) -> DataFrame:
    return transcripts.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets))
    )


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_checkpoints")


def completed_buckets(out_dir: str) -> set[int]:
    d = _manifest_dir(out_dir)
    if not os.path.isdir(d):
        return set()
    out = set()
    for name in os.listdir(d):
        if name.startswith("bucket-") and name.endswith(".json"):
            out.add(int(name[len("bucket-"):-len(".json")]))
    return out


def _manifest_path(out_dir: str, bucket: int) -> str:
    return os.path.join(_manifest_dir(out_dir), f"bucket-{bucket}.json")


def _commit_manifest(out_dir: str, bucket: int, lineage: dict) -> None:
    write_json_atomic(_manifest_path(out_dir, bucket), lineage)


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    buckets_per_batch: int = 4,
    fail_after_buckets: int | None = None,
) -> dict:
    """Process the table bucket-batch by bucket-batch, committing a manifest
    per completed bucket, then write the run-level sinks. Re-invoking after a
    crash resumes from the first uncommitted bucket. ``fail_after_buckets``
    injects a crash for tests.

    Returns {bucket: lineage} for the buckets processed in THIS invocation.
    """
    from .functions.parse_select import parse_stage
    from .plans.pipeline import all_anomalies

    started = time.time()
    done = completed_buckets(out_dir)
    pending = [b for b in range(n_buckets) if b not in done]
    processed: dict[int, dict] = {}
    n_done_this_run = 0

    bt = with_bucket(transcripts, n_buckets)

    for lo in range(0, len(pending), buckets_per_batch):
        batch = pending[lo : lo + buckets_per_batch]
        part = bt.filter(F.col("bucket").isin([int(b) for b in batch]))
        parsed = parse_stage(part).persist()
        # the bucket is a pure hash of conv_id, so the anomalies bucket
        # themselves; persisted so the write and the count share ONE pass
        anomalies = with_bucket(all_anomalies(parsed, cfg), n_buckets).persist()
        try:
            # counted from the input, not from parsed: the lineage check
            input_rows = {
                r["bucket"]: r["n"]
                for r in part.groupBy("bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            parse_counts = {
                (r["bucket"], bool(r["malformed"])): r["n"]
                for r in parsed.groupBy("bucket", "malformed")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            # materialize routed sink data per bucket directory (partition
            # commit). Dynamic partition overwrite, set per write so the
            # session keeps its own mode, makes bucket re-processing
            # idempotent: a bucket whose data landed but whose manifest did
            # not commit (crash in between) is simply overwritten on resume,
            # exactly-once per bucket.
            route_anomalies(anomalies).write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket", "sink_name").parquet(
                os.path.join(out_dir, "anomalies_routed")
            )
            anom_by_bucket: dict[int, dict[str, int]] = {}
            for r in (
                anomalies.groupBy("bucket", "detector")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ):
                anom_by_bucket.setdefault(r["bucket"], {})[r["detector"]] = r["n"]
            parsed.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("bucket").parquet(os.path.join(out_dir, "parsed"))
        finally:
            anomalies.unpersist()
            parsed.unpersist()

        for b in batch:
            lineage = {
                "bucket": int(b),
                "input_rows": int(input_rows.get(b, 0)),
                "parsed": int(parse_counts.get((b, False), 0)),
                "malformed": int(parse_counts.get((b, True), 0)),
                "anomalies_by_detector": anom_by_bucket.get(b, {}),
            }
            _commit_manifest(out_dir, int(b), lineage)
            processed[int(b)] = lineage
            n_done_this_run += 1
            if fail_after_buckets is not None and n_done_this_run >= fail_after_buckets:
                raise RuntimeError(f"injected failure after {n_done_this_run} buckets")

    if processed or not os.path.isfile(os.path.join(out_dir, RUN_METRICS)):
        manifests = []
        for b in range(n_buckets):
            with open(_manifest_path(out_dir, b)) as fh:
                manifests.append(json.load(fh))
        write_run_sinks(spark, out_dir, manifests, started)
    return processed
