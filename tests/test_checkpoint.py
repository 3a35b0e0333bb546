"""Kill-and-resume: interrupted run + resume == uninterrupted run."""

import json
import os

import pandas as pd
import pytest


def _read_anoms(spark, out):
    return (
        spark.read.parquet(f"{out}/anomalies_routed")
        .drop("bucket")
        .toPandas()
        .sort_values(
            ["detector", "conv_id", "turn_idx", "description", "window_start"],
            ignore_index=True,
            na_position="first",
        )
    )


def test_resume_after_injected_failure(spark, fixture_df, oracle_result, tmp_path):
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        completed_buckets,
        run_resumable,
    )

    out1 = str(tmp_path / "full")
    run_resumable(spark, fixture_df, out1, n_buckets=8, buckets_per_batch=3)
    assert completed_buckets(out1) == set(range(8))

    out2 = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(
            spark, fixture_df, out2, n_buckets=8, buckets_per_batch=3,
            fail_after_buckets=4,
        )
    done_mid = completed_buckets(out2)
    assert 0 < len(done_mid) < 8

    resumed = run_resumable(spark, fixture_df, out2, n_buckets=8,
                            buckets_per_batch=3)
    assert set(resumed) == set(range(8)) - done_mid
    assert completed_buckets(out2) == set(range(8))

    a = _read_anoms(spark, out1)
    b = _read_anoms(spark, out2)
    pd.testing.assert_frame_equal(a.drop(columns=["score"]), b.drop(columns=["score"]))

    # lineage totals == oracle totals
    lineage = []
    for f in os.listdir(f"{out2}/_checkpoints"):
        with open(f"{out2}/_checkpoints/{f}") as fh:
            lineage.append(json.load(fh))
    assert sum(x["parsed"] for x in lineage) == (
        (~oracle_result["parsed"]["malformed"]).sum()
    )
    assert sum(x["malformed"] for x in lineage) == (
        oracle_result["parsed"]["malformed"].sum()
    )
    total_anoms = sum(
        sum(x["anomalies_by_detector"].values()) for x in lineage
    )
    assert total_anoms == len(oracle_result["anomalies"])


def test_run_resumable_leaves_no_cache(spark, fixture_df, tmp_path,
                                      persistent_rdds):
    """Each bucket batch releases what it persisted (the parsed frame and
    the bucketed anomalies), so a full run adds no persistent RDD."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        run_resumable,
    )

    before = persistent_rdds()
    run_resumable(spark, fixture_df, str(tmp_path / "out"), n_buckets=8,
                  buckets_per_batch=4)
    assert persistent_rdds() - before == set()


def test_crash_after_last_manifest_is_repaired(spark, fixture_df, tmp_path):
    """A crash after the last manifest commits leaves the run-level sinks
    unwritten: the resume processes no bucket but writes them, and a further
    no-op resume writes nothing."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        completed_buckets,
        run_resumable,
    )

    out = str(tmp_path / "out")
    metrics = os.path.join(out, "run_metrics.json")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, fixture_df, out, n_buckets=8, buckets_per_batch=4,
                      fail_after_buckets=8)
    assert completed_buckets(out) == set(range(8))
    assert not os.path.exists(metrics)

    assert run_resumable(spark, fixture_df, out, n_buckets=8) == {}
    with open(metrics) as fh:
        assert json.load(fh)["parsed"] > 0
    mtime = os.stat(metrics).st_mtime_ns

    assert run_resumable(spark, fixture_df, out, n_buckets=8) == {}
    assert os.stat(metrics).st_mtime_ns == mtime


def test_run_resumable_keeps_session_overwrite_mode(spark, fixture_df, tmp_path):
    """The bucket writes overwrite partitions dynamically through a write
    option; the session's own partitionOverwriteMode is left as it was."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        run_resumable,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "STATIC")
    try:
        before = spark.conf.get(key)
        run_resumable(spark, fixture_df, str(tmp_path / "out"), n_buckets=2,
                      buckets_per_batch=2)
        assert spark.conf.get(key) == before
    finally:
        spark.conf.unset(key)


def test_run_resumable_on_empty_input(spark, tmp_path):
    """No input rows: the buckets commit empty lineage and the run-level
    sinks are still written (from explicit read schemas, as no data file
    exists to infer one from)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        run_resumable,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    out = str(tmp_path / "out")
    run_resumable(spark, spark.createDataFrame([], TRANSCRIPTS_SCHEMA), out,
                  n_buckets=2)
    with open(os.path.join(out, "run_metrics.json")) as fh:
        metrics = json.load(fh)
    assert (metrics["parsed"], metrics["malformed"], metrics["emitted_anomalies"],
            metrics["sink_counts"]) == (0, 0, 0, {})
    assert spark.read.parquet(os.path.join(out, "timeseries_minute")).count() == 0
