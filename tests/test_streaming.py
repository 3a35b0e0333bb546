"""Structured Streaming variant == batch results on the same fixture."""

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def stream_input(spark, fixture_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    # several files so the stream sees multiple triggers
    fixture_df.repartition(6, "conv_id").write.mode("overwrite").parquet(d)
    return d


def test_streaming_minute_counts_match_batch(spark, stream_input, fixture_df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.streaming.pipeline import (
        read_transcript_stream,
        streaming_minute_counts,
    )
    from pyspark.sql import functions as F

    stream = read_transcript_stream(spark, stream_input)
    q = (
        streaming_minute_counts(stream)
        .writeStream.format("memory")
        .queryName("minute_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.table("minute_counts")
        .toPandas()
        .sort_values("minute", ignore_index=True)
    )
    want = (
        parse_stage(spark.read.parquet(stream_input))
        .filter(~F.col("malformed"))
        .groupBy(F.date_trunc("minute", "ts_parsed").alias("minute"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("level_ord").isin(4, 5)).alias("errors"),
        )
        .toPandas()
        .sort_values("minute", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_streaming_burst_matches_batch(spark, stream_input, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.streaming.pipeline import (
        read_transcript_stream,
        streaming_burst,
    )

    stream = read_transcript_stream(spark, stream_input)
    q = (
        streaming_burst(stream)
        .writeStream.format("memory")
        .queryName("burst_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = (
        spark.table("burst_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )
    oa = oracle_result["anomalies"]
    want = (
        oa[oa["detector"] == "burst"]
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )
    assert len(got) == len(want)
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    assert got["turn_idx"].astype(int).tolist() == want["turn_idx"].astype(int).tolist()
    assert got["window_start"].tolist() == want["window_start"].tolist()
    assert got["score"].tolist() == want["score"].tolist()
    assert got["description"].tolist() == want["description"].tolist()
