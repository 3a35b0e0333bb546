"""run_concurrent_dag: the shared concurrent job shape bench.py/scaling.py
measure must produce the same frames as the sequential plan builders."""

import threading


def test_run_concurrent_dag_matches_sequential(spark, fixture_df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage_pipeline,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        offline_anomalies,
        online_anomalies,
        run_concurrent_dag,
    )

    leaves = []
    lock = threading.Lock()

    def action(df):
        kind = "minutes" if "minute" in df.columns else "anomaly"
        n = df.count()
        with lock:
            leaves.append((kind, n))

    frames = run_concurrent_dag(fixture_df, action=action)
    try:
        # four materialized leaves: minutes + frequency + pattern + timewindow
        assert len(leaves) == 4
        assert sum(1 for k, _ in leaves if k == "minutes") == 1

        parsed_seq = parse_stage_pipeline(fixture_df)
        assert frames["parsed"].count() == parsed_seq.count()
        assert frames["online"].count() == online_anomalies(parsed_seq).count()

        # the three offline anomaly leaves sum to the sequential offline union
        offline_total = offline_anomalies(parsed_seq).count()
        assert offline_total == sum(n for k, n in leaves if k == "anomaly")
    finally:
        frames["parsed"].unpersist()
        frames["online"].unpersist()


def test_run_concurrent_dag_releases_pattern_cache(spark, fixture_df):
    """Once run_concurrent_dag returns, the pattern branch's memoized
    _sig_base cache is gone: the only persistent RDDs it leaves behind are
    the returned parsed and online frames."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    before = persistent_ids()
    frames = run_concurrent_dag(fixture_df, action=lambda df: df.count())
    try:
        assert "_graft_sig_base_memo" not in frames["parsed"].__dict__
        left = persistent_ids() - before
        assert len(left) == 2, left
    finally:
        frames["parsed"].unpersist(blocking=True)
        frames["online"].unpersist(blocking=True)
    # the two survivors were exactly parsed and online
    assert persistent_ids() - before == set()
