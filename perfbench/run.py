"""Repository benchmark: one seeded workload, measured end to end or traced.

Usage (from the repository root):

    python3 perfbench/run.py --workload dag_mixed --seed 1 --seconds 10 --trace 0

Workloads (inputs from ``gen.py``: fixed size, content drawn from ``--seed``):
``dag_mixed`` (the concurrent pipeline DAG), ``query_docs`` (the document
and embedding queries), ``query_suite`` (all 36 declared queries) and
``job_resumable`` (the deployed resumable job). perfbench/README.md gives
the reasons, sizes and metric definitions.

Each run is a closed loop with one client: one job at a time, in a fresh
Python + JVM child process pinned to ``local[<cores>]``, killed with its
whole process tree if it outlives the run deadline. Inputs and the oracle
summary are generated (untimed) before the child starts and cached by
(workload, seed) under ``perfbench/.work/``.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics and writes the run's spans under
``perfbench/.work/spans/``. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics": {name: {"value",
"unit"}}}``; ``failed`` counts the DAG leaves, bucket batches and queries
that raised, timed out or disagreed with the oracles.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUN_DEADLINE_S = 170.0  # whole run, input generation included
# what must sit beside the benchmark for it to have a program to measure
ENGINE_FILES = (
    "intelligent_log_analysis_anomaly_detection_tool_spark/__init__.py",
    "oracle/reference_oracle.py",
    "__spark_entry__.py",
)


def _driver_mem() -> str:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kib = int(fh.readline().split()[1])
    return f"{max(1, min(4, kib // (4 * 1024 * 1024)))}g"


def _metric_specs() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return bench["end_to_end"], bench["per_layer"]


def _fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def run_child(spec: dict, run_dir: str, cores: int,
              deadline: float) -> tuple[dict | None, float, int]:
    """Start the child in its own session, sample its tree's memory, and
    tear the tree down. Returns (result or None, spawn time, peak RSS)."""
    from procstat import PeakRss, kill_tree, wait_gone

    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=_driver_mem(),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        TZ="UTC",
    )
    # every JVM (the launcher's too) keeps its temp files in the run directory
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    os.makedirs(env["TMPDIR"])
    with open(os.path.join(run_dir, "child.log"), "w") as log:
        spawned = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
            start_new_session=True,
        )
        rss = PeakRss(proc.pid, spec["timed_done"])
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            sys.stderr.write(f"perfbench: run exceeded {RUN_DEADLINE_S:.0f}s, child killed\n")
            kill_tree(proc.pid)
            proc.wait()
        peak = rss.stop()
    if not os.path.isfile(spec["result"]):
        with open(os.path.join(run_dir, "child.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        return None, spawned, peak
    with open(spec["result"]) as fh:
        result = json.load(fh)
    # the JVM and the worker daemon exit once the Python driver is gone
    if not wait_gone(result["pids"], 30.0):
        for pid in result["pids"]:
            kill_tree(pid)
    return result, spawned, peak


def main() -> None:
    deadline = time.monotonic() + RUN_DEADLINE_S
    sys.path[:0] = [ROOT, HERE]
    import checks
    import gen

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [f for f in ENGINE_FILES if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        _fail(f"no engine to measure beside the benchmark (missing {', '.join(missing)})")
    end_to_end, per_layer = _metric_specs()

    input_dir = gen.build(os.path.join(WORK, "inputs"), args.workload, args.seed)
    needs_oracle = not args.workload.startswith("query_") or args.trace
    expected = checks.pipeline_expectation(input_dir) if needs_oracle else None

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-{args.seed}-{int(time.time())}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)
    spec = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "input": input_dir, "work": run_dir, "cores": cores, "run_id": run_id,
        "expected": expected,
        "result": os.path.join(run_dir, "result.json"),
        "timed_done": os.path.join(run_dir, "timed.done"),
        "spans": os.path.join(WORK, "spans", f"{run_id}.jsonl"),
    }
    try:
        result, spawned, peak = run_child(spec, run_dir, cores, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        _fail("the measured child failed; no result")

    if args.trace:
        values = dict(result["per_layer"], peak_rss_mb=peak / 2**20)
        specs = per_layer
        print(f"spans: {os.path.relpath(spec['spans'], ROOT)}")
    else:
        values = {
            "setup_s": result["ready_at"] - spawned,
            "wall_s": result["wall_s"],
            "warm_wall_s": result["warm_wall_s"],
        }
        specs = end_to_end
        print("warm passes: " + " ".join(f"{w:.2f}" for w in result["warm_walls_s"]))
    absent = [s["name"] for s in specs if s["name"] not in values]
    if absent:
        _fail(f"{result['failed']} of {result['attempted']} operations failed; "
              f"metrics not measured: {', '.join(absent)}")
    metrics = {s["name"]: {"value": values[s["name"]], "unit": s["unit"]} for s in specs}
    attempted, failed = result["attempted"], result["failed"]
    print(f"{args.workload} seed={args.seed} trace={args.trace} "
          f"failed_frac={failed / attempted:.4f} host_steal_pct={result['host']['steal_pct']:.2f} "
          + " ".join(f"{k}={v['value']:.4g}{v['unit']}" for k, v in metrics.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
