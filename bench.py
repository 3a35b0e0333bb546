"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (cold-JVM, VERDICT r2 item 2):

- ``pipeline_total`` (the headline) is the full parse->enrich->route->
  aggregate pipeline with the two post-parse branches submitted concurrently
  (the engine's real DAG — what bench/scaling.py runs),
  measured in a FRESH child JVM so no prior pass has warmed the JIT or left
  the parsed frame cached. Input preparation (rendering + persist + count of
  the transcript frame) happens before the timer, same as the parent pass.
- ``parse``/``detect_online``/``detect_offline``/``aggregate_minutes`` and
  their ``pipeline_stage_sum`` are the sequential per-stage diagnostics,
  measured cold in the parent JVM (first Spark work after input prep) — the
  same methodology as BENCH_r01/r02, so the stage-sum series is comparable
  across rounds.
- per-operator query timings run last (warm JVM), same as r1/r2.

Scaling-efficiency runs (local[8] vs local[32]) live in bench/scaling.py and
are reported in BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _run_concurrent_pipeline(spark, tr) -> float:
    """The real job shape (plans.pipeline.run_concurrent_dag): parse once,
    then the online->minutes chain and the offline branches submitted
    concurrently, each branch building its own plan on its own thread while
    the parse job runs. Returns wall seconds."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    t0 = time.time()
    frames = run_concurrent_dag(tr, action=_noop_write)
    wall = time.time() - t0
    frames["parsed"].unpersist()
    frames["online"].unpersist()
    return wall


def _child_main() -> None:
    """Fresh-JVM cold headline: prepare input, run the concurrent DAG once,
    print one JSON line. Invoked by the parent via subprocess."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="bench-cold",
        shuffle_partitions=max(8, int(CPUS)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    tr = entrymod.events_as_transcripts(spark, SF_DIR).persist()
    rows = tr.count()
    wall = _run_concurrent_pipeline(spark, tr)
    tr.unpersist()
    print(json.dumps({"pipeline_total": round(wall, 3), "rows": rows}))


def main() -> None:
    # --- HEADLINE first: cold fresh-JVM concurrent pipeline (child process),
    # run BEFORE this process creates its own SparkContext so the child has
    # the box to itself (a live parent JVM measurably contends: +40% wall) ---
    env = dict(os.environ, SPARK_GRAFT_BENCH_CHILD="1")

    def _one_cold_trial() -> float | None:
        # start_new_session so a timed-out child's WHOLE process group (the
        # Spark JVM + python workers, which subprocess's own kill would
        # orphan to contend with later measurements) can be killpg'd
        proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__)],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            env=env, start_new_session=True,
        )
        try:
            out, err = proc.communicate(timeout=900)
        except subprocess.TimeoutExpired:
            import signal

            sys.stderr.write("bench child timed out after 900s\n")
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            return None
        child_line = [l for l in out.strip().splitlines() if l.startswith("{")]
        if proc.returncode == 0 and child_line:
            return json.loads(child_line[-1])["pipeline_total"]
        sys.stderr.write(f"bench child failed: {err[-2000:]}\n")
        return None

    # headline = MEDIAN of 3 cold fresh-JVM trials (round 5): this host shows
    # multi-x degraded windows lasting minutes (BENCH.md r4/r5 drift tables);
    # a single-trial artifact of record inherits whichever window it lands in
    cold_trials = [t for t in (_one_cold_trial() for _ in range(3)) if t is not None]
    pipeline_sec = sorted(cold_trials)[len(cold_trials) // 2] if cold_trials else None

    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="bench",
        shuffle_partitions=max(8, int(CPUS)),
    )
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage_pipeline as parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        offline_anomalies,
        online_anomalies,
    )

    # --- sequential per-stage diagnostics, COLD (same methodology as r1/r2:
    # first Spark work in this JVM after input prep) ---
    t0 = time.time()
    tr = entrymod.events_as_transcripts(spark, SF_DIR)
    tr = tr.persist()
    events_rows = tr.count()
    timings["prepare_input"] = time.time() - t0

    t0 = time.time()
    parsed = parse_stage(tr).persist()
    parsed.count()
    timings["parse"] = time.time() - t0

    t0 = time.time()
    online = online_anomalies(parsed).persist()
    online.count()
    timings["detect_online"] = time.time() - t0

    t0 = time.time()
    _noop_write(offline_anomalies(parsed))
    timings["detect_offline"] = time.time() - t0

    t0 = time.time()
    _noop_write(minute_stats(parsed, online))
    timings["aggregate_minutes"] = time.time() - t0

    timings["pipeline_stage_sum"] = (
        timings["parse"]
        + timings["detect_online"]
        + timings["detect_offline"]
        + timings["aggregate_minutes"]
    )
    parsed.unpersist()
    online.unpersist()

    # --- warm concurrent pass (diagnostic: isolates DAG-overlap gain from
    # JIT/caching; r2's headline used this methodology) ---
    timings["pipeline_total_warm"] = round(_run_concurrent_pipeline(spark, tr), 3)
    tr.unpersist()

    cold_child_ok = pipeline_sec is not None
    if pipeline_sec is None:  # child failed — fall back to the warm number
        pipeline_sec = timings["pipeline_total_warm"]
    timings["pipeline_total"] = pipeline_sec

    # --- per-operator paired queries (same set the correctness gate runs) ---
    for name, fn in entrymod.queries().items():
        t0 = time.time()
        _noop_write(fn(spark, SF_DIR))
        timings[name] = time.time() - t0

    out = {
        "metric": "e2e_parse_route_aggregate_sec",
        "value": round(pipeline_sec, 3),
        "unit": "sec",
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "sf": SF_DIR,
        "rows": events_rows,
        "throughput_rows_per_sec": round(events_rows / pipeline_sec, 1),
        "cpus": CPUS,
        "cold_child_ok": cold_child_ok,
        "cold_trials": [round(t, 3) for t in cold_trials],
        "methodology": (
            "MEDIAN of 3 cold fresh-JVM concurrent-DAG trials (child "
            "processes, drift-resistant); stage timings cold-sequential in "
            "parent (r1/r2-comparable)"
            if cold_child_ok
            else "WARM in-JVM concurrent DAG (cold children failed — "
            "fallback); stage timings cold-sequential in parent "
            "(r1/r2-comparable)"
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    if os.environ.get("SPARK_GRAFT_BENCH_CHILD") == "1":
        _child_main()
    else:
        main()
