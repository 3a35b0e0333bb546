"""End-to-end routed-row equality on additional seeds/scales beyond the
t_small session fixture — catches partition-boundary and shuffle-order bugs
the 50-conv fixture could mask."""

import numpy as np
import pandas as pd
import pytest

SORT_COLS = ["detector", "conv_id", "turn_idx", "description",
             "window_start", "window_end"]


@pytest.mark.parametrize("seed,n_convs", [(7, 120), (1234, 250)])
def test_all_anomalies_match_oracle(spark, seed, n_convs):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        all_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.synth import synth_local
    from oracle.reference_oracle import run_table

    pdf = synth_local(seed, n_convs)
    oracle = run_table(pdf)

    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).repartition(
        16, "conv_id"
    )
    parsed = parse_stage(df).persist()
    got = all_anomalies(parsed).toPandas()
    parsed.unpersist()

    want = oracle["anomalies"].copy()
    # engine leaves malformed-anomaly windows NULL (documented divergence)
    want.loc[want["detector"] == "parser", ["window_start", "window_end"]] = None

    got["window_start"] = (
        pd.to_datetime(got["window_start"]).astype("int64") // 10**9
    ).where(got["window_start"].notna()).astype("Int64")
    got["window_end"] = (
        pd.to_datetime(got["window_end"]).astype("int64") // 10**9
    ).where(got["window_end"].notna()).astype("Int64")
    for frame in (got, want):
        frame["turn_idx"] = frame["turn_idx"].astype("Int64")
        frame["severity"] = frame["severity"].astype("int64")
        frame["anomaly_type"] = frame["anomaly_type"].astype("int64")
        frame["source"] = frame["source"].astype(object).where(
            frame["source"].notna(), None
        )
    want["window_start"] = want["window_start"].astype("Int64")
    want["window_end"] = want["window_end"].astype("Int64")

    got = got.sort_values(SORT_COLS, ignore_index=True, na_position="first")
    want = want.sort_values(SORT_COLS, ignore_index=True, na_position="first")

    assert len(got) == len(want), f"{len(got)} != {len(want)}"
    cols = ["conv_id", "turn_idx", "detector", "anomaly_type", "severity",
            "window_start", "window_end", "source", "description"]
    pd.testing.assert_frame_equal(got[cols], want[cols])
    np.testing.assert_allclose(
        got["score"].to_numpy(float), want["score"].to_numpy(float),
        rtol=1e-6, atol=1e-9,
    )
