"""S3-S8 sinks: routed anomaly fan-out, per-turn entries, time series, reports.

Physical layout under ``out_dir``:

- ``parsed_turns/``        S7 entries sink (the per-turn text-equality
                           invariant lives here): conv_id, turn_idx, ts_iso,
                           level_name, source, message (main.cpp:525-584)
- ``anomalies_routed/``    S5 fan-out: ONE pass, hive-partitioned by
                           sink_name (J5 routing join) and severity — a
                           directory per (detector-sink, severity) instead of
                           N separate jobs
- ``timeseries_minute/``   S6 per-minute pivot (main.cpp:500-523)
- ``report_json/``         S4 top-100 anomalies by report order
- ``report_csv/``          S5 top-1000 anomalies as CSV
- ``run_metrics.json``     S8 benchmark counters (main.cpp:586-608)

That layout is ``write_all``'s. The resumable job (checkpoint.py) owns a
different one: the same routed ``anomalies_routed/`` rows partitioned by
``bucket`` and ``sink_name``, the full parse under ``parsed/``, and
manifests under ``_checkpoints/``; it writes no ``parsed_turns/``.

Storage backend: parquet directories (atomic-enough via Spark's commit
protocol). On a cluster with Iceberg jars available the same writes map to
``df.writeTo(table).append()`` — the layout above mirrors an Iceberg
partition spec (sink_name, severity), so switching backends is a writer-only
change.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .schema import LEVELS


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


def route_anomalies(anomalies: DataFrame, routing: DataFrame) -> DataFrame:
    """J5: broadcast routing join; unmatched detectors fall back to a default
    sink so no anomaly is ever dropped by routing."""
    return anomalies.join(F.broadcast(routing), "detector", "left").withColumn(
        "sink_name", F.coalesce(F.col("sink_name"), F.lit("sink_other"))
    )


def write_all(result: dict, routing: DataFrame, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    t0 = time.time()

    parsed = result["parsed"]
    # three of the five sinks consume the anomaly union — materialize it once,
    # EAGERLY: the count below fills the cache before the concurrent writers
    # start, so they read cached blocks instead of racing to compute the
    # not-yet-materialized union in parallel (duplicated work)
    anomalies = result["anomalies"].persist()
    anomalies.count()
    routed = route_anomalies(anomalies, routing)

    from .plans.pipeline import report_order

    # the five sinks are independent given their (persisted) inputs — submit
    # them concurrently so the cluster never idles between driver-side job
    # submissions (standard multi-job scheduling; each write is its own job)
    from concurrent.futures import ThreadPoolExecutor

    def _w_turns():
        parsed_turns_view(parsed).write.mode("overwrite").parquet(
            f"{out_dir}/parsed_turns"
        )

    def _w_routed():
        routed.write.mode("overwrite").partitionBy("sink_name", "severity").parquet(
            f"{out_dir}/anomalies_routed"
        )

    def _w_minutes():
        result["minute_stats"].write.mode("overwrite").parquet(
            f"{out_dir}/timeseries_minute"
        )

    def _w_json():
        # top-100 cap: JsonReporter.cpp:19
        report_order(anomalies, 100).write.mode("overwrite").json(
            f"{out_dir}/report_json"
        )

    def _w_csv():
        # top-1000 cap: CsvReporter.cpp:17
        report_order(anomalies, 1000).write.mode("overwrite").option(
            "header", True
        ).csv(f"{out_dir}/report_csv")

    try:
        with ThreadPoolExecutor(max_workers=5) as ex:
            futs = [ex.submit(f) for f in (_w_turns, _w_routed, _w_minutes,
                                           _w_json, _w_csv)]
            for f in futs:
                f.result()

        # per-sink counts (the "per-sink aggregate counts" correctness surface)
        sink_counts = {
            r["sink_name"]: r["n"]
            for r in routed.groupBy("sink_name")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        parsed_n = parsed.filter(~F.col("malformed")).count()
        malformed_n = parsed.filter(F.col("malformed")).count()
        metrics = {
            "run_time_iso": time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime()),
            "parsed": parsed_n,
            "malformed": malformed_n,
            "emitted_anomalies": sum(sink_counts.values()),
            "sink_counts": sink_counts,
            "wall_ms": int((time.time() - t0) * 1000),
        }
        with open(f"{out_dir}/run_metrics.json", "w") as fh:
            json.dump(metrics, fh, indent=2)
    finally:
        # a failed sink write must not leak the cached union
        anomalies.unpersist()
    return metrics
