"""Scaling-efficiency bench: the same pipeline at two parallelism levels.

The north rule's two-cluster-size criterion (N vs 4N executors, efficiency
>= 0.8) cannot use a real cluster in this sandbox; following BASELINE.md we
evidence it by running the identical job on the identical parquet input at
local[8] and local[32] and reporting throughput at both plus
efficiency = (thr_32 / thr_8) / 4.

Each measurement runs in its OWN subprocess (fresh JVM) so neither JIT warmup
nor memory state leaks between parallelism levels.

Usage:
  python bench/scaling.py                 # orchestrates both runs + report
  python bench/scaling.py --run 8 <dir>   # single measurement (internal)
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
N_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "20000"))
SEED = 42


def _generate_input() -> None:
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark
    from intelligent_log_analysis_anomaly_detection_tool_spark.synth import synth_spark

    spark = get_spark(master="local[32]", app_name="bench-gen",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    df = synth_spark(spark, SEED, N_CONVS, partitions=256, uniform=True)
    df.write.mode("overwrite").parquet(INPUT_DIR)
    n = spark.read.parquet(INPUT_DIR).count()
    print(f"generated {n} rows -> {INPUT_DIR}", file=sys.stderr)
    spark.stop()


def _measure(cpus: int) -> dict:
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark
    from perfbench.procstat import CpuMix

    # IDENTICAL job spec at every parallelism level (the north rule measures
    # the same job on two cluster sizes): shuffle partitioning is a property
    # of the job, not the cluster, so it must not vary with the core count —
    # 2*max_level cores worth of partitions runs unchanged at every level.
    shuffle_parts = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", "16"))
    # input_path engages the engine's per-job derived split sizing
    # (session.derive_max_partition_bytes) — the shipped default, no env
    # overrides: splits follow input_bytes/(waves x cores), clamped
    spark = get_spark(master=f"local[{cpus}]", app_name=f"bench-{cpus}",
                      shuffle_partitions=shuffle_parts, input_path=INPUT_DIR)
    spark.sparkContext.setLogLevel("ERROR")
    tr = spark.read.parquet(INPUT_DIR)
    rows = tr.count()

    # the engine's real concurrent job shape, shared with bench.py
    # (plans.pipeline.run_concurrent_dag): parse-count submitted first, then
    # one pool task per branch that builds its plan, waits for the parse and
    # writes its leaf — identical job structure at every parallelism level
    # host-condition accounting: this VM sees 15-22% hypervisor steal in
    # degraded windows, the noise source behind the ±2-3x wall swings
    cpu = CpuMix(os.getpid())
    t0 = time.time()
    run_concurrent_dag(tr)
    wall = time.time() - t0
    mix = cpu.read()
    spark.stop()
    return {"cpus": cpus, "rows": rows, "wall_sec": round(wall, 2),
            "turns_per_sec": round(rows / wall, 1),
            "driver_mem": os.environ.get("SPARK_DRIVER_MEM", "24g"), **mix}


class _Failed:
    returncode = -1
    stdout = ""
    stderr = "trial timed out (process group killed)"


def _run_trial(cmd: list, timeout: int, env: dict | None = None):
    """subprocess.run equivalent that kills the WHOLE process group on
    timeout (subprocess's own kill orphans the Spark JVM) and returns a
    failed-result sentinel instead of raising."""
    import signal

    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        cwd=REPO, start_new_session=True, env=env,
    )
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        return _Failed()
    res = _Failed()
    res.returncode = proc.returncode
    res.stdout, res.stderr = out, err
    return res


def main() -> None:
    if len(sys.argv) >= 2 and sys.argv[1] == "--run":
        print(json.dumps(_measure(int(sys.argv[2]))))
        return

    if not os.path.isdir(INPUT_DIR):
        _generate_input()

    trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "2"))
    cpu_levels = tuple(
        int(x) for x in os.environ.get("SPARK_GRAFT_BENCH_CPUS", "8,32").split(",")
    )
    results: dict[int, dict] = {}
    all_trials: dict[int, list] = {}
    # full per-trial CPU mix (not just the best trial's), so a matrix's
    # clean-window claims are auditable from the artifact itself (r5 ADVICE)
    all_mixes: dict[int, list] = {}
    # INTERLEAVE levels per trial round (L2,L8,L2,L8,...) instead of
    # exhausting one level first: the round-4 55.4M block showed monotone
    # host-window drift within a session (last trial -30%), which an
    # all-of-level-A-then-level-B order converts into a systematic bias on
    # the efficiency ratio; alternating makes drift cancel to first order.
    for cpus in [c for _ in range(trials) for c in cpu_levels]:
        best = results.get(cpus)
        all_trials.setdefault(cpus, [])
        # one retry per trial: a transient Python-worker death (socket
        # reset) should not abort a 30-minute measurement session
        for attempt in range(2):
            # pin the WHOLE process tree (JVM task slots, GC/shuffle/IPC
            # threads, python workers) to exactly `cpus` hardware cores:
            # in plain local[N] mode only task slots are limited while
            # background threads free-ride on all 32 cores — a subsidy
            # that helps the small level disproportionately (a real
            # N-core executor node has no spare cores for GC). CPU
            # affinity makes "two cluster sizes" mean what it says.
            cmd = [sys.executable, os.path.abspath(__file__), "--run", str(cpus)]
            if os.environ.get("SPARK_GRAFT_BENCH_PIN", "0") == "1":
                cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
            env = os.environ.copy()
            # Cluster-faithful memory mode: a real N->4N scale-up multiplies
            # TOTAL cluster memory by 4 (each executor is identical), while
            # a single shared local-JVM heap silently divides per-task memory
            # by the parallelism level — a confound the 111M A/B measured
            # directly (L8@24g 63-77k turns/s vs L8@64g 94.2k at 0% steal,
            # L2 flat). SPARK_GRAFT_BENCH_MEM_PER_CORE=<GiB> holds heap
            # per core constant across levels (heap = cpus * GiB), which is
            # what "two cluster sizes" means on real hardware. Off by
            # default: the shipped engine default (24g constant) stays the
            # config of record; this mode is measurement methodology, not
            # engine tuning, and artifacts record which mode produced them.
            mem_per_core = os.environ.get("SPARK_GRAFT_BENCH_MEM_PER_CORE")
            if mem_per_core:
                env["SPARK_DRIVER_MEM"] = f"{int(mem_per_core) * cpus}g"
            # same hardening as bench.py (ADVICE r4): a hung trial (e.g. a
            # silently-dead python worker wedging an Arrow read, observed
            # round 5) must neither abort the whole matrix nor leave an
            # orphan JVM contending with the retry — new session + killpg
            out = _run_trial(cmd, timeout=int(
                os.environ.get("SPARK_GRAFT_TRIAL_TIMEOUT", "3600")), env=env)
            if out.returncode == 0:
                break
            print(out.stderr[-4000:], file=sys.stderr)
        if out.returncode != 0:
            raise SystemExit(f"bench run cpus={cpus} failed twice")
        r = json.loads(out.stdout.strip().splitlines()[-1])
        print(json.dumps(r), file=sys.stderr)
        all_trials[cpus].append(r["turns_per_sec"])
        all_mixes.setdefault(cpus, []).append(
            {k: r.get(k) for k in
             ("wall_sec", "cpu_util", "user_pct", "steal_pct")}
        )
        if best is None or r["wall_sec"] < best["wall_sec"]:
            best = r
        results[cpus] = best

    def median(xs):
        xs = sorted(xs)
        n = len(xs)
        return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2

    # two estimators, both reported: best-trial (classic min-of-N wall) and
    # median-of-N. For a RATIO of noisy quantities the median is the robust
    # one — a single lucky low-parallelism trial shifts the best-based ratio
    # by its full error, so per-level variance (±8% at local[2] on this
    # shared box) lands directly in the efficiency number.
    lo, hi = cpu_levels[0], cpu_levels[-1]
    eff_best = (results[hi]["turns_per_sec"] / results[lo]["turns_per_sec"]) / (hi / lo)
    eff_med = (median(all_trials[hi]) / median(all_trials[lo])) / (hi / lo)
    report = {
        "metric": f"scaling_efficiency_local{lo}_to_local{hi}",
        "rows": results[hi]["rows"],
        **{f"local{c}": results[c] for c in cpu_levels},
        "trials_turns_per_sec": {str(c): all_trials[c] for c in cpu_levels},
        "trials_cpu_mix": {str(c): all_mixes.get(c, []) for c in cpu_levels},
        "efficiency_best": round(eff_best, 3),
        "efficiency_median": round(eff_med, 3),
        "efficiency": round(eff_med, 3),
        "pass_0.8": eff_med >= 0.8,
    }
    print(json.dumps(report))


if __name__ == "__main__":
    main()
