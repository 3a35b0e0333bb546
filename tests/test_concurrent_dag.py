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


def test_run_concurrent_dag_coalesces_cached_frames(spark, fixture_df):
    """AQE right-sizes the persisted frames: the online union keeps the
    parse partitions plus about one per shuffle-fed detector, and the
    pattern _sig_base is coalesced below the shuffle width (at full width
    every Python operator over these caches runs one task per shuffle
    partition)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.config import DEFAULT_CONFIG
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        _sig_base_cached,
        unpersist_pattern_caches,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    frames = run_concurrent_dag(fixture_df, action=lambda df: df.count())
    parsed = frames["parsed"]
    try:
        n_parsed = parsed.rdd.getNumPartitions()
        assert frames["online"].rdd.getNumPartitions() <= n_parsed + 3
        base = _sig_base_cached(parsed, DEFAULT_CONFIG.pattern)
        base.count()
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert base.rdd.getNumPartitions() < width
    finally:
        unpersist_pattern_caches(parsed)
        parsed.unpersist()
        frames["online"].unpersist()


def test_run_concurrent_dag_releases_caches_when_a_leaf_raises(spark, fixture_df):
    """A failing branch leaves no cache behind: the caller gets no frames,
    so run_concurrent_dag itself releases parsed, online and the pattern
    _sig_base before re-raising."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    jsc = spark.sparkContext._jsc

    def persistent_ids():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    def action(df):
        if "minute" in df.columns:
            raise RuntimeError("minutes leaf failed")
        df.count()

    before = persistent_ids()
    with pytest.raises(RuntimeError, match="minutes leaf failed"):
        run_concurrent_dag(fixture_df, action=action)
    assert persistent_ids() - before == set()
