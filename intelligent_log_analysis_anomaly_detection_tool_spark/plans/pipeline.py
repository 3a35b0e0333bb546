"""The detector DAG: parse -> detector branches -> anomaly union.

Spark lifecycle of the reference's single-threaded loop (SURVEY.md §3.1):
read -> parse (one mapInArrow stage) -> detector branches (window exprs,
burst's mapInPandas scan, pattern's applyInArrow kernel) -> unionByName.
Every branch reads one persisted parsed frame — no second parse pass (the
reference re-reads the file for entries.csv, main.cpp:536-537).
``checkpoint.run_resumable`` runs this per bucket batch and routes the union
(J5) into the sinks; ``run_concurrent_dag`` runs it with the minute pivot as
a sibling branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..functions.parse_select import parse_stage_pipeline
from ..operators.aggregates import minute_stats
from ..operators.detectors.burst import burst_anomalies
from ..operators.detectors.common import S_LOW, T_OTHER, as_anomaly
from ..operators.detectors.frequency import frequency_anomalies
from ..operators.detectors.online_fused import spike_statistical_anomalies
from ..operators.detectors.pattern import pattern_anomalies
from ..operators.detectors.rare_ip import rare_ip_anomalies
from ..operators.detectors.timewindow import timewindow_anomalies


def parser_anomalies(parsed: DataFrame) -> DataFrame:
    """F2: malformed line -> (Other, Low, score=1.0, source='parser',
    'Malformed log line: <err>') (main.cpp:199-219). The reference stamps the
    anomaly window with wall-clock now (nondeterministic); this engine leaves
    the window NULL — documented divergence."""
    df = parsed.filter(F.col("malformed"))
    out = df.select(
        "conv_id",
        "turn_idx",
        F.lit("parser").alias("detector"),
        F.lit(T_OTHER).alias("anomaly_type"),
        F.lit(S_LOW).alias("severity"),
        F.lit(None).cast("timestamp").alias("window_start"),
        F.lit(None).cast("timestamp").alias("window_end"),
        F.lit(1.0).alias("score"),
        F.lit("parser").alias("source"),
        F.concat(
            F.lit("Malformed log line: "),
            F.coalesce(F.col("error"), F.lit("parse failure")),
        ).alias("description"),
    )
    return as_anomaly(out)


def online_anomalies(parsed: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-entry detector fires. Rule matches contribute no rows (F9): the
    reference's matchesToAnomalies returns {} (RuleBasedDetector.cpp:670-676).
    Union order mirrors main.cpp:283-360; W1+W2 run as ONE fused window pass
    (they share the (conv_id, source) sort — see detectors/online_fused.py)."""
    return (
        parser_anomalies(parsed)
        .unionByName(spike_statistical_anomalies(parsed, cfg.spike, cfg.statistical))
        .unionByName(burst_anomalies(parsed, cfg.burst))
        .unionByName(rare_ip_anomalies(parsed, cfg.ip))
    )


def offline_anomaly_builders(parsed: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG):
    """The offline analyzers as LAZY independent branch builders
    (main.cpp:367-409): name -> zero-arg callable returning the branch plan.

    Building a branch runs no Spark job, so a caller can build each plan
    on its own thread while other jobs run and submit the branches as
    concurrent jobs (run_concurrent_dag does both)."""
    return {
        "frequency": lambda: frequency_anomalies(parsed, cfg.frequency),
        "pattern": lambda: pattern_anomalies(parsed, cfg.pattern),
        "timewindow": lambda: timewindow_anomalies(parsed, cfg.timewindow),
    }


def offline_anomalies(parsed: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """End-of-run analyzer anomalies (main.cpp:367-409)."""
    b = offline_anomaly_builders(parsed, cfg)
    return (
        b["frequency"]().unionByName(b["pattern"]()).unionByName(b["timewindow"]())
    )


def all_anomalies(parsed: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    return online_anomalies(parsed, cfg).unionByName(offline_anomalies(parsed, cfg))


def run_concurrent_dag(
    transcripts: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    action=None,
) -> dict[str, DataFrame]:
    """Materialize the post-parse DAG with maximal plan/job overlap.

    The engine's real concurrent job shape (what bench.py and
    bench/scaling.py measure): parse once into a persisted frame, then the
    online->minutes chain and the three offline analyzers run as concurrent
    jobs, ``action`` (default: a noop-format write) materializing each leaf.

    The parse-materialize count is submitted FIRST. Each branch then runs
    in its own pool task that builds its plan, waits for the parse and runs
    its leaf: online->minutes (the persisted online union and the minute
    pivot over it), pattern, frequency and timewindow. The two longest
    branches, online->minutes and pattern, build first; frequency and
    timewindow build once both lead plans are built. So a lead leaf starts
    as soon as its plan is built and the parse is done, and the driver's
    plan construction (py4j round trips, not cluster work) overlaps the
    parse job and the lead jobs. The online task counts the online union
    before its minutes leaf, so the cache is filled once, by one job,
    whatever ``action`` reads of it. Every job runs in a job group named
    after its branch (``dag.parse``, ``dag.online``, ``dag.pattern``,
    ``dag.frequency``, ``dag.timewindow``). The pattern branch builds its
    signature base inside its own plan and persists nothing.

    Returns the persisted frames (parsed and online, the only caches the
    DAG holds) so callers control unpersist timing. If the parse count or
    any branch (its build or its leaf) raises, both are released before
    the exception propagates: the caller gets no frames to release them
    with.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor

    if action is None:
        def action(df):  # noqa: E306 — default leaf materializer
            df.write.format("noop").mode("overwrite").save()

    sc = transcripts.sparkSession.sparkContext
    parsed = parse_stage_pipeline(transcripts).persist()
    online = None

    def _parse():
        sc.setJobGroup("dag.parse", "parse")
        return parsed.count()

    # The online->minutes chain and the pattern leaf are the two longest
    # branches. Frequency and timewindow start building only once both
    # lead plans are built, so the lead builds do not share the driver
    # with them and the lead jobs reach Spark's FIFO scheduler, which gives
    # the first-submitted job the first free cores, ahead of theirs.
    leads_built = {"online": threading.Event(), "pattern": threading.Event()}

    def _build(name, build):
        lead = leads_built.get(name)
        try:
            sc.setJobGroup(f"dag.{name}", name)
            if lead is None:
                for built in leads_built.values():
                    built.wait()
            return build()
        finally:
            # set even when the build raises, or the followers never start
            if lead is not None:
                lead.set()

    def _online_plans():
        nonlocal online
        online = online_anomalies(parsed, cfg).persist()
        return minute_stats(parsed, online)

    def _online_then_minutes():
        minutes_plan = _build("online", _online_plans)
        parse_fut.result()
        # fill the online cache before the minutes leaf reads it: a leaf
        # action need not read it (a count prunes the fire-count join), and
        # the caller gets online back as a filled cache
        online.count()
        action(minutes_plan)

    def _offline(name, build):
        plan = _build(name, build)
        parse_fut.result()
        action(plan)

    try:
        builders = offline_anomaly_builders(parsed, cfg)
        with ThreadPoolExecutor(max_workers=5) as ex:
            parse_fut = ex.submit(_parse)
            futs = [ex.submit(_online_then_minutes)] + [
                ex.submit(_offline, name, builders[name])
                for name in ("pattern", "frequency", "timewindow")
            ]
            for f in futs:
                f.result()
    except BaseException:
        # leaving the executor block waited for every branch, so nothing
        # still reads these caches
        if online is not None:
            online.unpersist()
        parsed.unpersist()
        raise
    return {"parsed": parsed, "online": online}


def report_order(anomalies: DataFrame, limit: int | None = None) -> DataFrame:
    """O1 anomaly ordering: severity desc, score desc, window_end desc,
    description asc; then cap (JsonReporter.cpp:50-62, CsvReporter.cpp:44-53)."""
    out = anomalies.orderBy(
        F.desc("severity"), F.desc("score"), F.desc("window_end"), "description"
    )
    return out.limit(limit) if limit else out

