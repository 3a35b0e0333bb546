"""S3-S8 sinks: console report, routed anomalies, entries, time series,
reports and run counters.

One writer, ``checkpoint.run_resumable``, lays out ``out_dir``:

- ``_checkpoints/bucket-<k>.json``  per-bucket lineage manifests
- ``anomalies_routed/bucket=<k>/sink_name=<s>/``  S5 fan-out: every
                           anomaly, J5-routed (``route_anomalies``), written
                           per bucket batch; ``severity`` stays a data
                           column, since pyarrow reads a hive partition
                           column back as a dictionary, not an integer
- ``parsed/bucket=<k>/``   the full parse output, malformed rows included;
                           S7, the entries sink (main.cpp:525-584), is the
                           ``parsed_turns_view`` projection over it
- ``timeseries_minute/``   S6 per-minute pivot (main.cpp:500-523)
- ``report_json/``         S4 top-100 anomalies in O1 report order
- ``report_csv/``          S5 top-1000 anomalies as CSV
- ``run_metrics.json``     S8 run counters (main.cpp:586-608), written last

The last four are run-level: ``write_run_sinks`` builds them from what the
bucket batches wrote, after the last batch.

Storage backend: parquet directories (atomic-enough via Spark's commit
protocol). On a cluster with Iceberg jars available the same writes map to
``df.writeTo(table).append()`` — the routed layout mirrors an Iceberg
partition spec (bucket, sink_name), so switching backends is a writer-only
change.
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.aggregates import minute_stats
from .schema import ANOMALY_COLS, ANOMALY_SCHEMA, LEVELS, ROUTING


def console_report(result: dict, top_n: int = 5) -> str:
    """S3 console sink (ConsoleReporter.cpp:81-135): human-readable summary
    rendered driver-side from the small aggregate frames — severity bars,
    per-level counts, top-N sources, top anomalies."""
    from .plans.pipeline import report_order

    lines = ["=" * 60, "LOG ANALYSIS REPORT", "=" * 60]
    lv = {r["level_ord"]: r["n"] for r in result["level_stats"].collect()}
    total = sum(lv.values())
    lines.append(f"Parsed entries: {total}")
    for ord_, name in enumerate(LEVELS):
        n = lv.get(ord_, 0)
        if n:
            bar = "#" * max(1, int(40 * n / max(1, total)))
            lines.append(f"  {name:<9} {n:>8}  {bar}")
    lines.append("-" * 60)
    lines.append(f"Top {top_n} sources by events:")
    for r in (
        result["source_stats"]
        .orderBy(F.desc("total_events"), "source")
        .limit(top_n)
        .collect()
    ):
        lines.append(
            f"  {r['source']:<20} total={r['total_events']} "
            f"errors={r['error_events']} warnings={r['warning_events']}"
        )
    lines.append("-" * 60)
    lines.append(f"Top {top_n} anomalies:")
    for r in report_order(result["anomalies"], top_n).collect():
        lines.append(
            f"  [sev={r['severity']}] {r['detector']:<12} "
            f"score={r['score']:.2f} {r['description'][:70]}"
        )
    lines.append("=" * 60)
    return "\n".join(lines)


def parsed_turns_view(parsed: DataFrame) -> DataFrame:
    """S7: the entries sink projection (ISO timestamp, level name, source,
    message) — per-turn equality vs the oracle is asserted on this frame."""
    level_name = F.element_at(
        F.array(*[F.lit(x) for x in LEVELS]), F.col("level_ord") + 1
    )
    return parsed.filter(~F.col("malformed")).select(
        "conv_id",
        "turn_idx",
        F.date_format("ts_parsed", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
        level_name.alias("level_name"),
        "source",
        "message",
    )


def route_anomalies(anomalies: DataFrame) -> DataFrame:
    """J5: ``sink_name`` is a lookup in the literal ``ROUTING`` map, not a
    join; a detector missing from it falls back to ``sink_other``, so
    routing never drops an anomaly. ``detector`` leads the columns: the
    schema readers of ``anomalies_routed/`` already have."""
    routing = F.create_map(*[F.lit(x) for kv in ROUTING.items() for x in kv])
    return anomalies.select(
        "detector",
        *[c for c in anomalies.columns if c != "detector"],
        F.coalesce(routing[F.col("detector")], F.lit("sink_other")).alias("sink_name"),
    )


def write_json_atomic(path: str, obj) -> None:
    """Write-then-rename: a reader sees no file or the whole file."""
    d = os.path.dirname(path)
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, suffix=".tmp")
    with os.fdopen(fd, "w") as fh:
        json.dump(obj, fh, indent=2)
    os.replace(tmp, path)


RUN_METRICS = "run_metrics.json"

# what write_run_sinks reads of parsed/ (the minute pivot's columns) and of
# anomalies_routed/
_PARSED_READ = (
    "conv_id STRING, turn_idx INT, malformed BOOLEAN, ts_parsed TIMESTAMP, "
    "level_ord INT"
)
_ROUTED_READ = T.StructType(
    ANOMALY_SCHEMA.fields + [T.StructField("sink_name", T.StringType())]
)


def write_run_sinks(spark: SparkSession, out_dir: str, manifests: list[dict],
                    started: float) -> dict:
    """S4, S5 CSV, S6 and S8 from what the bucket batches wrote: one read of
    ``parsed/`` and one of ``anomalies_routed/``. ``parsed`` and
    ``malformed`` are the sums over the bucket ``manifests``,
    ``sink_counts`` count the written routed rows, and ``wall_ms`` runs
    from ``started`` (epoch seconds). ``run_metrics.json`` goes last, so
    its presence means every other sink of the run is complete."""
    from .plans.pipeline import report_order

    # explicit read schemas: a run that wrote no rows leaves no file to
    # infer one from
    parsed = spark.read.schema(_PARSED_READ).parquet(os.path.join(out_dir, "parsed"))
    routed = spark.read.schema(_ROUTED_READ).parquet(
        os.path.join(out_dir, "anomalies_routed")
    )
    anomalies = routed.select(*ANOMALY_COLS)

    # the pivot keeps only the online fires of the anomalies
    minute_stats(parsed, anomalies).write.mode("overwrite").parquet(
        os.path.join(out_dir, "timeseries_minute")
    )
    # top-100 cap: JsonReporter.cpp:19
    report_order(anomalies, 100).write.mode("overwrite").json(
        os.path.join(out_dir, "report_json")
    )
    # top-1000 cap: CsvReporter.cpp:17
    report_order(anomalies, 1000).write.mode("overwrite").option(
        "header", True
    ).csv(os.path.join(out_dir, "report_csv"))

    sink_counts = {
        r["sink_name"]: r["n"]
        for r in routed.groupBy("sink_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    metrics = {
        "run_time_iso": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
        "parsed": sum(m["parsed"] for m in manifests),
        "malformed": sum(m["malformed"] for m in manifests),
        "emitted_anomalies": sum(sink_counts.values()),
        "sink_counts": sink_counts,
        "wall_ms": int((time.time() - started) * 1000),
    }
    write_json_atomic(os.path.join(out_dir, RUN_METRICS), metrics)
    return metrics
