"""Multi-EXECUTOR scaling harness (round 5): N vs 4N real executor JVMs.

The north rule's criterion is throughput scaling efficiency >= 0.8 "from N
to 4N executors". `bench/scaling.py` evidences it with local[N] thread
parallelism; this harness evidences it with Spark's `local-cluster[N,c,m]`
master — N SEPARATE executor JVMs on this box, each with its own heap,
block manager, and Python workers, shuffling over netty exactly like a
multi-node standalone cluster (this is the master Spark's own distributed
tests use). "Two cluster sizes" then means what it says: the identical job
spec on 1 executor vs 4 executors of identical shape (same cores, same
per-executor memory — adding executors adds memory, as adding nodes does).

Shared-box caveats carry over from scaling.py: all executors contend for
the same memory bus and hypervisor, per-trial CPU mix (user/sys/idle/steal)
is recorded in the artifact, levels are interleaved per trial round, and
every trial is a fresh subprocess so no JVM state leaks.

Usage:
    SPARK_GRAFT_EXEC_LEVELS=1,4 SPARK_GRAFT_EXEC_CORES=2 \
    SPARK_GRAFT_EXEC_MEM_MB=16384 SPARK_GRAFT_BENCH_TRIALS=2 \
    SPARK_GRAFT_BENCH_INPUT=/tmp/bench_transcripts_4x \
      python bench/scaling_executors.py
"""
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "bench"))

INPUT_DIR = os.environ.get("SPARK_GRAFT_BENCH_INPUT", "/tmp/bench_transcripts")
EXEC_CORES = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
EXEC_MEM_MB = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "16384"))


def _measure(n_exec: int) -> dict:
    from concurrent.futures import ThreadPoolExecutor

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
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import (
        derive_max_partition_bytes,
        dir_bytes,
        get_spark,
    )
    from perfbench.procstat import CpuMix

    # identical job spec at every cluster size (north rule): shuffle
    # partitioning is a property of the job, not the cluster
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "16"))
    total_cores = n_exec * EXEC_CORES
    # the engine's shipped per-job split derivation, computed for the
    # cluster's real total parallelism (get_spark's own branch only parses
    # local[N]; local-cluster totals are supplied here instead)
    split = derive_max_partition_bytes(dir_bytes(INPUT_DIR), total_cores)
    spark = get_spark(
        master=f"local-cluster[{n_exec},{EXEC_CORES},{EXEC_MEM_MB}]",
        app_name=f"bench-exec-{n_exec}",
        shuffle_partitions=shuffle_parts,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(split),
            "spark.sql.files.openCostInBytes": "4194304",
            "spark.executorEnv.PYTHONPATH": REPO,
            # local-cluster executors default to 1g regardless of the
            # bracket arg in some versions; pin explicitly
            "spark.executor.memory": f"{EXEC_MEM_MB}m",
            "spark.executor.cores": str(EXEC_CORES),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tr = spark.read.parquet(INPUT_DIR)
    rows = tr.count()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    cpu = CpuMix(os.getpid())
    t0 = time.time()
    parsed = parse_stage(tr).persist()
    parsed.count()
    online = online_anomalies(parsed).persist()

    def _online_then_minutes():
        online.count()
        noop(minute_stats(parsed, online))

    builders = offline_anomaly_builders(parsed)
    jobs = [_online_then_minutes] + [
        (lambda b=b: noop(b())) for b in builders.values()
    ]
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        for f in [ex.submit(j) for j in jobs]:
            f.result()
    wall = time.time() - t0
    mix = cpu.read()
    spark.stop()
    return {"executors": n_exec, "exec_cores": EXEC_CORES,
            "exec_mem_mb": EXEC_MEM_MB, "rows": rows,
            "wall_sec": round(wall, 2),
            "turns_per_sec": round(rows / wall, 1), **mix}


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--run":
        print(json.dumps(_measure(int(sys.argv[2]))))
        return

    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    levels = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_EXEC_LEVELS", "1,4").split(",")
    )
    all_trials: dict[int, list] = {}
    best: dict[int, dict] = {}
    # interleaved levels per trial round, fresh subprocess per trial —
    # same drift discipline as bench/scaling.py
    for n in [n for _ in range(trials) for n in levels]:
        all_trials.setdefault(n, [])
        for attempt in range(2):
            from scaling import _run_trial  # same killpg-on-timeout hardening

            out = _run_trial(
                [sys.executable, os.path.abspath(__file__), "--run", str(n)],
                timeout=int(os.environ.get("SPARK_GRAFT_TRIAL_TIMEOUT", "3600")),
            )
            if out.returncode == 0:
                break
            print(out.stderr[-4000:], file=sys.stderr)
        if out.returncode != 0:
            raise SystemExit(f"executor bench n={n} failed twice")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps(r), file=sys.stderr)
        all_trials[n].append(r)
        if n not in best or r["wall_sec"] < best[n]["wall_sec"]:
            best[n] = r

    def median(xs):
        xs = sorted(xs)
        k = len(xs)
        return xs[k // 2] if k % 2 else (xs[k // 2 - 1] + xs[k // 2]) / 2

    lo, hi = levels[0], levels[-1]
    eff_best = (best[hi]["turns_per_sec"] / best[lo]["turns_per_sec"]) / (hi / lo)
    med = {n: median([t["turns_per_sec"] for t in all_trials[n]]) for n in levels}
    # per-round PAIR ratios (matrix-C style): ratio of trials taken in the
    # same host window — stronger than cross-window medians under drift
    pair_ratios = [
        round((all_trials[hi][i]["turns_per_sec"]
               / all_trials[lo][i]["turns_per_sec"]) / (hi / lo), 3)
        for i in range(min(len(all_trials[lo]), len(all_trials[hi])))
    ]
    print(json.dumps({
        "metric": f"scaling_efficiency_{lo}_to_{hi}_executors",
        "cluster_shape": f"local-cluster[N,{EXEC_CORES},{EXEC_MEM_MB}]",
        "rows": best[hi]["rows"],
        "trials": {str(n): all_trials[n] for n in levels},
        "efficiency_best": round(eff_best, 3),
        "efficiency_median": round((med[hi] / med[lo]) / (hi / lo), 3),
        "pair_ratios": pair_ratios,
        "input": INPUT_DIR,
    }))


if __name__ == "__main__":
    main()
