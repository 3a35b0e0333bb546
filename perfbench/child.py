"""One measured process: a fresh Python driver and JVM.

``run.py`` starts ``python3 perfbench/child.py <spec.json>`` in its own
session and reads the result JSON this writes to ``spec["result"]``.

Untraced, the child builds the SparkSession (and, for the pipeline
workloads, the transcripts DataFrame), runs the workload's job once cold and
then again warm until ``spec["seconds"]`` have passed since the first warm
pass began (at least ``WARM`` times), and checks every pass's outputs
outside the timed sections. Traced, it runs the job once cold with a span
around every leaf or query, then calls each layer's public function in
sequence with a span around each call, and writes the spans to ``spec["spans"]`` when the run
ends. Layers are timed from outside: nothing inside the engine is
instrumented.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

N_BUCKETS, BUCKETS_PER_BATCH = 8, 4  # run_resumable's deployed defaults
PASS_TIMEOUT_S = 100.0
WARM = 3  # warm passes that warm_wall_s is taken from, in every untraced run
# ... except these, whose passes take 25-50 s: three would outlive the run deadline
ONE_WARM = ("job_resumable", "query_suite")
# the declared queries over documents and embeddings, one or more per
# operator module they exercise (dedup: exact, jaccard; textstats;
# similarity: all-pairs cosine, IVF; multimodal), none of the pipeline
# layers. The jaccard plan is the heaviest.
DOC_QUERIES = (
    "dedup_exact", "token_stats", "jaccard_pairs", "cosine_near_dup",
    "ann_ivf_topk", "binary_meta",
)


def job_queries(workload: str) -> tuple[str, ...]:
    """The queries a query workload's job runs (none for the others)."""
    import __spark_entry__ as entry

    return {"query_suite": tuple(entry.queries()), "query_docs": DOC_QUERIES}.get(workload, ())


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self, run_id: str):
        self.run_id, self.spans, self._ids = run_id, [], itertools.count()

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        rec = {"run_id": self.run_id, "id": next(self._ids), "parent": parent,
               "name": name, "start": time.time(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


@contextmanager
def deadline(spark, seconds: float):
    """Cancel every running Spark job if the block outlives ``seconds``;
    the cancelled operations then raise and count as failed."""
    timer = threading.Timer(seconds, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    try:
        yield
    finally:
        timer.cancel()


def open_session(spec: dict):
    """SparkSession pinned to local[cores]. Returns (spark, transcripts);
    transcripts is None for the query workloads, whose queries read the
    parquet files themselves."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.session import get_spark
    from intelligent_log_analysis_anomaly_detection_tool_spark.sources.transcripts import (
        read_transcripts,
    )

    queries = bool(job_queries(spec["workload"]))
    path = os.path.join(spec["input"], "sf" if queries else "transcripts")
    spark = get_spark(
        master=f"local[{spec['cores']}]",
        app_name=f"perfbench-{spec['workload']}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
        input_path=path,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, None if queries else read_transcripts(spark, path)


# --- the three jobs: one pass each, returning (wall_s, outputs) -------------

def dag_pass(spark, tr, tracer: Tracer | None = None, parent: int | None = None):
    """``run_concurrent_dag`` with every leaf collected to the driver."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    leaves, raised, lock = [], [], threading.Lock()

    def collect(df):
        with tracer.span("leaf", parent) if tracer else nullcontext() as rec:
            try:
                pdf = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed leaf, reported
                with lock:
                    raised.append(repr(exc))
                return
            if rec is not None:
                rec["name"] = "leaf.minutes" if "minute" in pdf.columns else (
                    f"leaf.{pdf['detector'].iloc[0]}" if len(pdf) else "leaf.empty")
            with lock:
                leaves.append(pdf)

    t0 = time.perf_counter()
    frames = None
    with deadline(spark, PASS_TIMEOUT_S):
        try:
            frames = run_concurrent_dag(tr, action=collect)
        except Exception as exc:  # noqa: BLE001 — parse or online failed: every leaf
            raised[:] = [repr(exc)] * 4
    return time.perf_counter() - t0, {"frames": frames, "leaves": leaves, "raised": raised}


def dag_failures(exp: dict, out: dict) -> int:
    import pandas as pd

    from checks import minute_sums, pipeline_failures, severity_counts

    frames = out["frames"]
    if frames is None:
        return 4
    try:
        pm = {bool(r[0]): int(r[1]) for r in
              frames["parsed"].groupBy("malformed").count().collect()}
        online = frames["online"].groupBy("detector", "severity").count().toPandas()
    finally:
        frames["parsed"].unpersist()
        frames["online"].unpersist()
    counts = {f"{d}/{int(s)}": int(n) for d, s, n in online.itertuples(index=False)}
    minutes = None
    anomalies = []
    for pdf in out["leaves"]:
        if "minute" in pdf.columns:
            minutes = minute_sums(pdf)
        else:
            anomalies.append(pdf)
    if anomalies:
        counts.update(severity_counts(pd.concat(anomalies)))
    bad = pipeline_failures(exp, pm.get(False, 0), pm.get(True, 0), counts, minutes)
    return min(4, len(bad) + len(out["raised"]))


def query_pass(spark, sf_dir: str, names, tracer: Tracer | None = None,
               parent: int | None = None):
    """The named declared queries in order, each collected to the driver."""
    import __spark_entry__ as entry

    queries = entry.queries()
    results, times = {}, {}
    t0 = time.perf_counter()
    with deadline(spark, PASS_TIMEOUT_S):
        for name in names:
            q = queries[name]
            t = time.perf_counter()
            with tracer.span(f"query.{name}", parent) if tracer else nullcontext():
                try:
                    results[name] = q(spark, sf_dir).toPandas()
                except Exception as exc:  # noqa: BLE001 — a failed query, reported
                    results[name] = exc
            times[name] = time.perf_counter() - t
    return time.perf_counter() - t0, {"results": results, "times": times}


def resumable_pass(spark, tr, out_dir: str):
    """The deployed job: ``run_resumable`` into a fresh output directory."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        run_resumable,
    )

    def run():
        return run_resumable(spark, tr, out_dir, n_buckets=N_BUCKETS,
                             buckets_per_batch=BUCKETS_PER_BATCH)

    out = {"out_dir": out_dir, "start": time.time(), "error": None}
    t0 = time.perf_counter()
    try:
        with deadline(spark, PASS_TIMEOUT_S):
            run()
        wall = time.perf_counter() - t0
        t1 = time.perf_counter()
        out["resumed"] = run()
        out["resume_noop_s"] = time.perf_counter() - t1
    except Exception as exc:  # noqa: BLE001 — every batch counts as failed
        wall, out["error"] = time.perf_counter() - t0, repr(exc)
    return wall, out


def _batches() -> list[list[int]]:
    b = list(range(N_BUCKETS))
    return [b[i:i + BUCKETS_PER_BATCH] for i in range(0, N_BUCKETS, BUCKETS_PER_BATCH)]


def conv_buckets(tr) -> dict[str, int]:
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import with_bucket

    rows = with_bucket(tr, N_BUCKETS).select("conv_id", "bucket").distinct().collect()
    return {r[0]: int(r[1]) for r in rows}


def resumable_failures(exp: dict, out: dict, conv_bucket: dict) -> int:
    from checks import manifest_failures

    if out["error"] is not None:
        return len(_batches()) + 1
    failed = manifest_failures(exp, out["out_dir"], conv_bucket, _batches())
    return failed + (out["resumed"] != {})  # the re-invocation must skip every bucket


def query_failures(results: dict, expected: dict) -> int:
    from checks import frames_equal

    return sum(not (not isinstance(got, Exception) and frames_equal(got, expected[name]))
               for name, got in results.items())


# --- untraced: cold + warm passes ------------------------------------------

def run_untraced(spec: dict, spark, tr) -> dict:
    """The job once cold, then warm passes until ``spec["seconds"]`` have
    passed since the first warm pass began (at least ``WARM`` of them).

    ``warm_wall_s`` is the fastest of the first ``WARM`` warm passes (of
    the one pass for the ``ONE_WARM`` workloads); for the query workloads
    it is the sum over the queries of each query's fastest time in those
    passes. Warm passes still speed up from one to
    the next while the JIT compiles (the third is 10-30% faster than the
    first), so the fastest pass is the one nearest the steady state, and a
    median would read a point on that slope, which moves with how much CPU
    the compiler got. The passes are counted, not timed, so that a fast
    host window, which fits more passes in ``spec["seconds"]``, does not
    also read a later point on the slope."""
    w = spec["workload"]
    exp = spec.get("expected")
    warm_n = 1 if w in ONE_WARM else WARM
    outdirs = itertools.count()
    walls, failed, attempted = [], 0, 0
    query_results, query_times = [], []
    conv_bucket = None
    warm_start = None
    while len(walls) < 1 + warm_n or time.perf_counter() - warm_start < spec["seconds"]:
        if w == "dag_mixed":
            wall, out = dag_pass(spark, tr)
            failed += dag_failures(exp, out)
            attempted += 4
        elif job_queries(w):
            wall, out = query_pass(spark, os.path.join(spec["input"], "sf"), job_queries(w))
            query_results.append(out["results"])
            query_times.append(out["times"])
            attempted += len(out["results"])
        else:
            wall, out = resumable_pass(spark, tr, os.path.join(spec["work"], f"out{next(outdirs)}"))
            conv_bucket = conv_bucket or conv_buckets(tr)
            failed += resumable_failures(exp, out, conv_bucket)
            attempted += len(_batches()) + 1
        walls.append(wall)
        warm_start = warm_start or time.perf_counter()
    open(spec["timed_done"], "w").close()
    if query_results:
        from checks import duckdb_expected

        expected = duckdb_expected(os.path.join(spec["input"], "sf"), query_results[0])
        failed += sum(query_failures(r, expected) for r in query_results)
        warm = sum(min(t[n] for t in query_times[1:1 + warm_n]) for n in query_times[0])
    else:
        warm = min(walls[1:1 + warm_n])
    return {"wall_s": walls[0], "warm_walls_s": walls[1:], "warm_wall_s": warm,
            "attempted": attempted, "failed": failed}


# --- traced: job once, then every layer in sequence ---------------------------

def run_traced(spec: dict, spark, tr, tracer: Tracer, run_span: int) -> dict:
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage_pipeline,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        offline_anomaly_builders,
        online_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.sources.transcripts import (
        read_transcripts,
    )

    from checks import duckdb_expected, minute_sums, pipeline_failures, severity_counts
    from procstat import CpuMix

    w, exp = spec["workload"], spec["expected"]
    sf_dir = os.path.join(spec["input"], "sf")
    m: dict[str, float] = {}
    failed = attempted = 0
    me = os.getpid()

    def timed(name: str, fn, mix: bool = False, key: str | None = None):
        """Run ``fn`` inside a span; record its seconds (and CPU share)."""
        cm = CpuMix(me) if mix else None
        with tracer.span(name, run_span):
            t = time.perf_counter()
            out = fn()
            m[key or f"{name}.s"] = time.perf_counter() - t
        if cm is not None:
            m[f"{name}.cpu_util"] = cm.read()["cpu_util"]
        return out

    # 1. the workload's job, cold, with a span per leaf / query
    with tracer.span("job", run_span) as job:
        if w == "dag_mixed":
            _, out = dag_pass(spark, tr, tracer, job["id"])
            failed += dag_failures(exp, out)
            attempted += 4
        elif job_queries(w):
            _, qout = query_pass(spark, sf_dir, job_queries(w), tracer, job["id"])
        else:
            _, rout = resumable_pass(spark, tr, os.path.join(spec["work"], "out"))
    m["trace.wall_s"] = job["end"] - job["start"]

    # 2. pipeline layers over the same transcripts
    src = read_transcripts(spark, os.path.join(spec["input"], "transcripts"))
    m["sources.rows"] = timed("sources", src.count, key="sources.scan_s")
    parsed = parse_stage_pipeline(src).persist()
    m["parse.rows"] = timed("parse", parsed.count, mix=True)
    malformed = parsed.filter("malformed").count()
    m["parse.malformed_frac"] = malformed / max(1, m["parse.rows"])
    online = online_anomalies(parsed).persist()
    m["detect_online.rows"] = timed("detect_online", online.count, mix=True)
    online_counts = severity_counts(online.select("detector", "severity").toPandas())
    offline_counts = {}
    for name, build in offline_anomaly_builders(parsed).items():
        pdf = timed(f"detect_offline.{name}", lambda b=build: b().toPandas(),
                    mix=name == "pattern")
        m[f"detect_offline.{name}.rows"] = len(pdf)
        offline_counts.update(severity_counts(pdf))
    minutes = timed("aggregate.minutes", lambda: minute_stats(parsed, online).toPandas())
    m["aggregate.minutes.rows"] = len(minutes)
    parsed.unpersist()
    online.unpersist()
    m["dag.stage_sum_s"] = sum(m[k] for k in (
        "sources.scan_s", "parse.s", "detect_online.s", "detect_offline.frequency.s",
        "detect_offline.pattern.s", "detect_offline.timewindow.s", "aggregate.minutes.s"))
    bad = pipeline_failures(exp, m["parse.rows"] - malformed, malformed,
                            {**online_counts, **offline_counts}, minute_sums(minutes))
    failed += len(bad) + (m["sources.rows"] != exp["rows"])
    attempted += 7

    # 3. checkpoint layer: the resumable job (already run when it is the job);
    # a failed job leaves its checkpoint metrics unmeasured, and run.py
    # reports them missing
    if w != "job_resumable":
        with tracer.span("checkpoint", run_span):
            _, rout = resumable_pass(spark, src, os.path.join(spec["work"], "out"))
    if rout["error"] is None:
        m.update(checkpoint_metrics(rout, os.path.join(spec["input"], "transcripts")))
    failed += resumable_failures(exp, rout, conv_buckets(src))
    attempted += len(_batches()) + 1

    # 4. query layer: every declared query not already run as the job
    import __spark_entry__ as entry

    if not job_queries(w):
        qout = {"results": {}, "times": {}}
    rest = [n for n in entry.queries() if n not in qout["results"]]
    if rest:
        with tracer.span("queries", run_span) as qs:
            _, more = query_pass(spark, sf_dir, rest, tracer, qs["id"])
        qout["results"].update(more["results"])
        qout["times"].update(more["times"])
    m.update({f"query.{k}.s": v for k, v in qout["times"].items()})
    open(spec["timed_done"], "w").close()
    expected = duckdb_expected(sf_dir, qout["results"])
    failed += query_failures(qout["results"], expected)
    attempted += len(qout["results"])
    return {"per_layer": m, "attempted": attempted, "failed": failed}


def checkpoint_metrics(rout: dict, input_dir: str) -> dict[str, float]:
    """Batch times from the committed manifests' modification times, plus
    the output's size and file count against the input's."""
    ck = os.path.join(rout["out_dir"], "_checkpoints")
    mtimes = {int(n[len("bucket-"):-len(".json")]): os.stat(os.path.join(ck, n)).st_mtime
              for n in os.listdir(ck) if n.endswith(".json")}
    ends = [max(mtimes[b] for b in batch) for batch in _batches()]
    batch_s = [e - s for s, e in zip([rout["start"]] + ends[:-1], ends)]
    out_files = _data_files(rout["out_dir"])
    return {
        "checkpoint.batch_s.median": statistics.median(batch_s),
        "checkpoint.batch_s.max": max(batch_s),
        "checkpoint.manifests": len(mtimes),
        "checkpoint.resume_noop_s": rout["resume_noop_s"],
        "checkpoint.bytes_per_input_byte":
            sum(os.path.getsize(f) for f in out_files)
            / max(1, sum(os.path.getsize(f) for f in _data_files(input_dir))),
        "checkpoint.files": len(out_files),
    }


def _data_files(path: str) -> list[str]:
    """Parquet data files under ``path`` (no manifests or markers)."""
    return [os.path.join(d, f) for d, _, files in os.walk(path) for f in files
            if f.endswith(".parquet") and not f.startswith((".", "_"))]


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    from procstat import CpuMix, tree_pids

    host = CpuMix(os.getpid())
    tracer = Tracer(spec["run_id"])
    result: dict = {}
    with tracer.span("run") as run:
        with tracer.span("setup", run["id"]):
            spark, tr = open_session(spec)
        result["ready_at"] = time.time()
        if spec["trace"]:
            result.update(run_traced(spec, spark, tr, tracer, run["id"]))
        else:
            result.update(run_untraced(spec, spark, tr))
    mix = host.read()
    result["host"] = {"user_pct": mix["user_pct"], "steal_pct": mix["steal_pct"]}
    if spec["trace"]:
        # steal is 0 on a quiet host, so the metric is its complement
        result["per_layer"].update({"host.user_pct": mix["user_pct"],
                                    "host.avail_pct": 100.0 - mix["steal_pct"]})
        tracer.write(spec["spans"])
    spark.stop()
    result["pids"] = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    tmp = spec["result"] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, spec["result"])


if __name__ == "__main__":
    main()
