"""run_concurrent_dag: the shared concurrent job shape bench.py/scaling.py
measure must produce the same frames as the sequential plan builders."""

import threading

import pandas as pd
import pytest


def _sorted_rows(df):
    pdf = df.toPandas()
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def test_run_concurrent_dag_matches_sequential(spark, fixture_df):
    """Every leaf, and the returned parsed and online frames, hold the rows
    (and dtypes) of the sequential plan builders."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage_pipeline,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        offline_anomaly_builders,
        online_anomalies,
        run_concurrent_dag,
    )

    leaves = {}
    lock = threading.Lock()

    def action(df):
        rows = _sorted_rows(df)
        if "minute" in df.columns:
            key = "minutes"
        else:
            (key,) = rows["detector"].unique()
        with lock:
            assert key not in leaves
            leaves[key] = rows

    frames = run_concurrent_dag(fixture_df, action=action)
    try:
        parsed_seq = parse_stage_pipeline(fixture_df)
        online_seq = online_anomalies(parsed_seq)
        builders = offline_anomaly_builders(parsed_seq)
        # four materialized leaves: minutes + frequency + pattern + timewindow
        assert set(leaves) == {"minutes", *builders}
        pd.testing.assert_frame_equal(
            leaves["minutes"], _sorted_rows(minute_stats(parsed_seq, online_seq))
        )
        for name, build in builders.items():
            pd.testing.assert_frame_equal(leaves[name], _sorted_rows(build()))
        pd.testing.assert_frame_equal(
            _sorted_rows(frames["parsed"]), _sorted_rows(parsed_seq)
        )
        pd.testing.assert_frame_equal(
            _sorted_rows(frames["online"]), _sorted_rows(online_seq)
        )
    finally:
        frames["parsed"].unpersist()
        frames["online"].unpersist()


def test_run_concurrent_dag_labels_jobs_by_branch(spark, fixture_df):
    """Each branch's jobs run in the job group ``dag.<branch>``."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        run_concurrent_dag,
    )

    frames = run_concurrent_dag(fixture_df, action=lambda df: df.count())
    try:
        tracker = spark.sparkContext.statusTracker()
        for branch in ("parse", "online", "pattern", "frequency", "timewindow"):
            assert tracker.getJobIdsForGroup(f"dag.{branch}"), branch
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


def test_run_concurrent_dag_releases_caches_when_a_build_raises(
    monkeypatch, fixture_df, persistent_rdds
):
    """A branch whose plan build raises inside its pool task: the error
    reaches the caller through the branch's future, and parsed and online
    are released before it does. Pattern is a lead branch, so this also
    checks that the branches waiting on the lead builds still start."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans import pipeline

    def boom(*_args, **_kwargs):
        raise RuntimeError("pattern build failed")

    monkeypatch.setattr(pipeline, "pattern_anomalies", boom)
    before = persistent_rdds()
    with pytest.raises(RuntimeError, match="pattern build failed"):
        pipeline.run_concurrent_dag(fixture_df, action=lambda df: df.count())
    assert persistent_rdds() - before == set()
