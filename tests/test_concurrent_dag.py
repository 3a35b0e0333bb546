"""run_concurrent_dag: the shared concurrent job shape bench.py/scaling.py
measure must produce the same frames as the sequential plan builders."""

import threading

import pytest


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


def test_run_concurrent_dag_releases_pattern_cache(fixture_df, persistent_rdds):
    """The pattern branch leaves no cache behind: the only persistent RDDs
    run_concurrent_dag leaves are the returned parsed and online frames."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    before = persistent_rdds()
    frames = run_concurrent_dag(fixture_df, action=lambda df: df.count())
    try:
        left = persistent_rdds() - before
        assert len(left) == 2, left
    finally:
        frames["parsed"].unpersist(blocking=True)
        frames["online"].unpersist(blocking=True)
    # the two survivors were exactly parsed and online
    assert persistent_rdds() - before == set()


def test_run_concurrent_dag_coalesces_cached_frames(spark, fixture_df):
    """AQE right-sizes the persisted online union: it keeps the parse
    partitions plus about one per shuffle-fed detector (at full width every
    Python operator over the cache runs one task per shuffle partition)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    frames = run_concurrent_dag(fixture_df, action=lambda df: df.count())
    parsed = frames["parsed"]
    try:
        n_parsed = parsed.rdd.getNumPartitions()
        assert frames["online"].rdd.getNumPartitions() <= n_parsed + 3
    finally:
        parsed.unpersist()
        frames["online"].unpersist()


def test_run_concurrent_dag_releases_caches_when_a_leaf_raises(fixture_df, persistent_rdds):
    """A failing branch leaves no cache behind: the caller gets no frames,
    so run_concurrent_dag itself releases parsed and online before
    re-raising."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    def action(df):
        if "minute" in df.columns:
            raise RuntimeError("minutes leaf failed")
        df.count()

    before = persistent_rdds()
    with pytest.raises(RuntimeError, match="minutes leaf failed"):
        run_concurrent_dag(fixture_df, action=action)
    assert persistent_rdds() - before == set()
