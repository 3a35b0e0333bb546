"""Routed-row equality: every detector branch vs the pure-Python oracle on
the t_small fixture (50 convs, ~5k turns, every scenario injected)."""

import numpy as np
import pandas as pd
import pytest

from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
    parse_stage,
)

SORT_COLS = ["detector", "conv_id", "turn_idx", "description",
             "window_start", "window_end"]


@pytest.fixture(scope="session")
def parsed_df(fixture_df):
    df = parse_stage(fixture_df).persist()
    df.count()
    return df


def _norm_engine(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in ("window_start", "window_end"):
        out[c] = (
            pd.to_datetime(out[c]).astype("int64") // 10**9
        ).where(out[c].notna()).astype("Int64")
    out["turn_idx"] = out["turn_idx"].astype("Int64")
    out["severity"] = out["severity"].astype("int64")
    out["anomaly_type"] = out["anomaly_type"].astype("int64")
    out["source"] = out["source"].astype(object).where(out["source"].notna(), None)
    return out.sort_values(SORT_COLS, ignore_index=True)


def _norm_oracle(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in ("window_start", "window_end"):
        out[c] = out[c].astype("Int64")
    out["turn_idx"] = out["turn_idx"].astype("Int64")
    out["severity"] = out["severity"].astype("int64")
    out["anomaly_type"] = out["anomaly_type"].astype("int64")
    out["source"] = out["source"].astype(object).where(out["source"].notna(), None)
    return out.sort_values(SORT_COLS, ignore_index=True)


def _compare(engine_pdf, oracle_pdf, score_tol=1e-9):
    got = _norm_engine(engine_pdf)
    want = _norm_oracle(oracle_pdf)
    assert len(got) == len(want), f"row count {len(got)} != {len(want)}"
    cols = ["conv_id", "turn_idx", "detector", "anomaly_type", "severity",
            "window_start", "window_end", "source", "description"]
    pd.testing.assert_frame_equal(
        got[cols].reset_index(drop=True), want[cols].reset_index(drop=True)
    )
    np.testing.assert_allclose(
        got["score"].to_numpy(float), want["score"].to_numpy(float),
        rtol=score_tol, atol=score_tol,
    )


def _oracle_det(oracle_result, name):
    a = oracle_result["anomalies"]
    return a[a["detector"] == name].reset_index(drop=True)


def test_online_fires_stamp_their_row_minute(parsed_df):
    """Every timed online fire's window_end falls in the minute of the row it
    fired on, and only parser rows have no window: the minute pivot counts
    fires by minute(window_end) on this rule."""
    from pyspark.sql import functions as F

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        with_minute,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        online_anomalies,
    )

    online = online_anomalies(parsed_df)
    untimed = online.filter(F.col("window_end").isNull())
    untimed_detectors = untimed.select("detector").distinct().collect()
    assert {r["detector"] for r in untimed_detectors} == {"parser"}

    timed = online.filter(F.col("window_end").isNotNull())
    rows = with_minute(parsed_df).filter(~F.col("malformed")).select(
        "conv_id", "turn_idx", "minute"
    )
    same = F.date_trunc("minute", "window_end").eqNullSafe(F.col("minute"))
    got = (
        timed.join(rows, ["conv_id", "turn_idx"], "left")
        .groupBy("detector", same.alias("same"))
        .count()
        .collect()
    )
    assert {r["detector"] for r in got} >= {"spike", "statistical", "burst", "rare_ip"}
    assert all(r["same"] for r in got), got


def test_rare_ip(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.rare_ip import (
        rare_ip_anomalies,
    )

    got = rare_ip_anomalies(parsed_df).toPandas()
    want = _oracle_det(oracle_result, "rare_ip")
    assert len(want) > 0, "fixture must exercise W4"
    _compare(got, want)


@pytest.mark.parametrize("name", ["spike", "statistical"])
def test_spike_statistical(parsed_df, oracle_result, name):
    """W1 and W2 come from the one fused window pass (one shared sort, used
    by online_anomalies); each detector's rows must equal its oracle rows."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.online_fused import (
        spike_statistical_anomalies,
    )

    got = spike_statistical_anomalies(parsed_df).toPandas()
    got = got[got["detector"] == name].reset_index(drop=True)
    want = _oracle_det(oracle_result, name)
    assert len(want) > 0, f"fixture must exercise {name}"
    _compare(got, want, score_tol={"spike": 1e-9, "statistical": 1e-6}[name])


def test_burst(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.burst import (
        burst_anomalies,
    )

    got = burst_anomalies(parsed_df).toPandas()
    want = _oracle_det(oracle_result, "burst")
    assert len(want) > 0, "fixture must exercise W3"
    _compare(got, want)


def test_timewindow(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.timewindow import (
        timewindow_anomalies,
    )

    got = timewindow_anomalies(parsed_df).toPandas()
    want = _oracle_det(oracle_result, "timewindow")
    assert len(want) > 0, "fixture must exercise W5"
    _compare(got, want)


def test_frequency(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.frequency import (
        frequency_anomalies,
    )

    got = frequency_anomalies(parsed_df).toPandas()
    want = _oracle_det(oracle_result, "frequency")
    assert len(want) > 0, "fixture must exercise A8"
    _compare(got, want)


def test_pattern(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        pattern_anomalies,
    )

    got = pattern_anomalies(parsed_df).toPandas()
    want = _oracle_det(oracle_result, "pattern")
    assert len(want) > 0, "fixture must exercise A10/A11"
    _compare(got, want)


def test_parser_malformed(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        parser_anomalies,
    )

    got = parser_anomalies(parsed_df).toPandas()
    want = _oracle_det(oracle_result, "parser").copy()
    assert len(want) > 0
    # engine uses NULL windows for malformed (reference: wall-clock now)
    want["window_start"] = None
    want["window_end"] = None
    _compare(got, want)
