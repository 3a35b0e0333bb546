"""Per-query isolation bench with host-window provenance (round 6).

bench.py is the FROZEN driver contract; this harness is the round-6
measurement companion (guide §1.4): it times any subset of the declared
queries with the noop sink in one warm JVM, repeats each N times, and
annotates every trial with the CPU mix over its duration
(perfbench.procstat.CpuMix) — steal% being the tell for the degraded host
windows documented in STATE.md (same-build walls swing 2-4x between
windows on this VM).

Usage:
  python bench_extra.py                          # all queries, 2 trials
  python bench_extra.py simhash16,jaccard_pairs  # subset
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py
Prints one JSON line: {"sf": ..., "trials": {...}, "cpu_mix": {...}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
TRIALS = int(os.environ.get("SPARK_GRAFT_EXTRA_TRIALS", "2"))


def main() -> None:
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark
    from perfbench.procstat import CpuMix

    import __spark_entry__ as entrymod

    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="bench-extra",
        shuffle_partitions=max(8, int(CPUS)),
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = sys.argv[1].split(",") if len(sys.argv) > 1 else list(qs)
    out: dict[str, list] = {}
    mixes: dict[str, list] = {}
    for name in names:
        fn = qs[name]
        trials, trial_mix = [], []
        for _ in range(TRIALS):
            mix, t0 = CpuMix(os.getpid()), time.time()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            trials.append(round(time.time() - t0, 3))
            trial_mix.append(mix.read())
        out[name] = trials
        mixes[name] = trial_mix
    print(
        json.dumps(
            {"sf": SF_DIR, "cpus": CPUS, "trials": out, "cpu_mix": mixes}
        )
    )


if __name__ == "__main__":
    main()
