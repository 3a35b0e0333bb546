"""Per-stage scaling profile: which pipeline stage scales worst L2 -> L8?

The matrix artifacts (scaling_r5_*.json) measure the CONCURRENT pipeline
wall; this tool runs the stages SEQUENTIALLY in a fresh JVM at each
parallelism level so each stage's wall and CPU mix are attributable, then
reports per-stage efficiency = (thr_hi / thr_lo) / (hi/lo). Sequential
stage walls overstate the pipeline total (no overlap) — this is a
diagnostic for WHERE inflation lives, not a throughput artifact.

Usage:
  python bench/stage_profile.py                # orchestrates both levels
  python bench/stage_profile.py --run 8 out.json   # single level (internal)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

INPUT_DIR = os.environ.get("SPARK_GRAFT_BENCH_INPUT", "/tmp/bench_transcripts")


def _measure(cpus: int) -> dict:
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage_pipeline as parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        offline_anomaly_builders,
        online_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark
    from perfbench.procstat import CpuMix

    shuffle_parts = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "16"))
    t_boot0 = time.time()
    spark = get_spark(master=f"local[{cpus}]", app_name=f"profile-{cpus}",
                      shuffle_partitions=shuffle_parts, input_path=INPUT_DIR)
    spark.sparkContext.setLogLevel("ERROR")
    boot = time.time() - t_boot0

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    stages: dict[str, dict] = {}

    def timed(name, fn):
        cpu = CpuMix(os.getpid())
        t0 = time.time()
        out = fn()
        wall = time.time() - t0
        mix = cpu.read()
        stages[name] = {
            "wall_sec": round(wall, 2),
            # CPU-seconds the driver, its JVM and Python workers used
            "cpu_sec": round(mix["cpu_util"] / 100.0 * (os.cpu_count() or 1) * wall, 1),
            "steal_pct": round(mix["steal_pct"], 1),
        }
        return out

    tr = spark.read.parquet(INPUT_DIR)
    rows = tr.count()
    parsed = timed("parse", lambda: (lambda p: (p.count(), p)[1])(
        parse_stage(tr).persist()))
    online = timed("online", lambda: (lambda o: (o.count(), o)[1])(
        online_anomalies(parsed).persist()))
    timed("minutes", lambda: noop(minute_stats(parsed, online)))
    builders = offline_anomaly_builders(parsed)
    for name, b in builders.items():
        timed(name, lambda b=b: noop(b()))
    spark.stop()
    return {"cpus": cpus, "rows": rows, "boot_sec": round(boot, 2),
            "stages": stages}


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--run":
        with open(sys.argv[3], "w") as f:
            json.dump(_measure(int(sys.argv[2])), f)
        return

    levels = [int(x) for x in
              os.environ.get("SPARK_GRAFT_BENCH_CPUS", "2,8").split(",")]
    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    runs: dict[int, list[dict]] = {c: [] for c in levels}
    for c in [c for _ in range(trials) for c in levels]:  # interleaved
        out = f"/tmp/stage_profile_{c}.json"
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run", str(c), out],
            cwd=REPO, capture_output=True, text=True)
        if r.returncode != 0:
            print(r.stderr[-3000:], file=sys.stderr)
            continue
        runs[c].append(json.load(open(out)))

    lo, hi = levels[0], levels[-1]
    factor = hi / lo

    def med(vals):
        vals = sorted(vals)
        return vals[len(vals) // 2]

    report = {"rows": runs[lo][0]["rows"], "levels": levels,
              "per_stage": {}, "trials": {str(c): runs[c] for c in levels}}
    names = list(runs[lo][0]["stages"].keys())
    for n in names:
        wlo = med([t["stages"][n]["wall_sec"] for t in runs[lo]])
        whi = med([t["stages"][n]["wall_sec"] for t in runs[hi]])
        clo = med([t["stages"][n]["cpu_sec"] for t in runs[lo]])
        chi = med([t["stages"][n]["cpu_sec"] for t in runs[hi]])
        report["per_stage"][n] = {
            f"wall_l{lo}": wlo, f"wall_l{hi}": whi,
            "efficiency": round(wlo / (factor * whi), 3) if whi else None,
            f"cpu_l{lo}": clo, f"cpu_l{hi}": chi,
            "cpu_inflation": round(chi / clo, 3) if clo else None,
        }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
