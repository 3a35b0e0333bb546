"""Micro-fixtures for the reference's boundary semantics (SURVEY.md §5.2):
hand-crafted conversations that pin the exact quirk, engine vs oracle.

All timestamps are second-resolution plain lines; every test builds a tiny
transcripts frame, runs one detector, and asserts the firing pattern.
"""

import datetime as dt

import pandas as pd
import pytest

from pyspark.sql import functions as F

T0 = dt.datetime(2025, 6, 1, 12, 0, 0)


def _line(ts, level="INFO", svc="svc-a", msg="steady message body here"):
    return f"{ts:%Y-%m-%d %H:%M:%S} [{level}] {svc} - {msg}"


def _conv(spark, offsets_and_lines, conv="c0"):
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    rows = []
    for i, (off, line) in enumerate(offsets_and_lines):
        rows.append((conv, i, "user", line, "none", T0 + dt.timedelta(seconds=off)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def _parse(spark, df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )

    return parse_stage(df)


def test_trailing_window_boundary_inclusive(spark):
    """SpikeDetector evicts strictly age > W (SpikeDetector.cpp:55-60): a row
    exactly 60s old is KEPT. Verified via the rank-minus-evicted trailing
    count (the same construction as the fused pass's spike 'cur')."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.common import (
        trailing_count,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.common import (
        with_epoch,
    )

    # rows at t=0, 60, 61
    df = _conv(spark, [(0, _line(T0)), (60, _line(T0 + dt.timedelta(seconds=60))),
                       (61, _line(T0 + dt.timedelta(seconds=61)))])
    parsed = with_epoch(_parse(spark, df))
    out = (
        parsed.withColumn("cur", trailing_count(60, "conv_id", "source"))
        .orderBy("turn_idx")
        .select("cur")
        .toPandas()["cur"]
        .tolist()
    )
    # at t=60: the t=0 row is exactly 60s old -> kept -> cur=2
    # at t=61: the t=0 row is 61s old -> evicted -> cur=2 (t=60, t=61)
    assert out == [1, 2, 2]


def test_burst_fire_pattern_19_20_21_and_refill(spark, ):
    """Burst fires at count 20, again at 21 (then trims to 10), then refires
    on refill (BurstPatternDetector.cpp:84-113)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.burst import (
        burst_anomalies,
    )

    # 40 identical messages, 1 second apart (all within any 60s window)
    rows = [(i, _line(T0 + dt.timedelta(seconds=i), msg="repeat this exact msg"))
            for i in range(40)]
    df = _conv(spark, rows)
    got = burst_anomalies(_parse(spark, df)).orderBy("turn_idx").toPandas()
    # fires: idx19 (c=20), idx20 (c=21, trim->10), idx30 (c=20), idx31 (c=21,
    # trim->10) — every (10,11) cycle afterwards
    assert got["turn_idx"].tolist() == [19, 20, 30, 31]
    assert got["score"].tolist() == [20.0, 21.0, 20.0, 21.0]


def test_zscore_warmup_no_fire_before_10(spark):
    """StatisticalDetector: z forced to 0 while count < 10
    (StatisticalDetector.cpp:204-211) — no fire possible in the first 9
    observations per (conv, source) no matter how extreme the rate."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.online_fused import (
        spike_statistical_anomalies,
    )

    # 9 observations with wildly varying gaps
    offs = [0, 600, 601, 602, 603, 604, 605, 606, 607]
    df = _conv(spark, [(o, _line(T0 + dt.timedelta(seconds=o))) for o in offs])
    got = spike_statistical_anomalies(_parse(spark, df)).toPandas()
    assert (got["detector"] != "statistical").all()


def test_message_20_char_boundary(spark):
    """extractMessage drops the first 20 chars only when len > 20
    (LogParser.cpp:374-377): a line of exactly 20 chars keeps everything and
    needs >2 space-tokens."""
    import pyarrow as pa

    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_arrow import (
        parse_arrays,
    )

    # 19-char ts + 1 char = len 20 -> no prefix drop -> tokens of whole line
    line20 = "2025-06-01 12:00:00x"
    # 21 chars -> drop 20 -> remainder "y z w" -> tokens y,z,w -> message "w"
    line21p = "2025-06-01 12:00:00 y z w"
    out = parse_arrays(pa.array([line20, line21p], pa.string()))
    # line20: tokens = ['2025-06-01','12:00:00x'] -> only 2 -> malformed
    assert out["malformed"].to_pylist() == [True, False]
    assert out["message"][1].as_py() == "w"


def test_rare_ip_exactly_five(spark):
    """IpFrequencyDetector emits on occurrences 1..5 only
    (IpFrequencyDetector.cpp:34-43)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.rare_ip import (
        rare_ip_anomalies,
    )

    rows = [(i, _line(T0 + dt.timedelta(seconds=i),
                      msg=f"hit {i} from 10.1.2.3 ok"))
            for i in range(8)]
    df = _conv(spark, rows)
    got = rare_ip_anomalies(_parse(spark, df)).orderBy("turn_idx").toPandas()
    assert got["turn_idx"].tolist() == [0, 1, 2, 3, 4]
    assert got["description"].tolist() == [
        f"Rare IP observed (count={k}): 10.1.2.3" for k in range(1, 6)
    ]


def test_timewindow_last13_buckets_only(spark):
    """Only the current + 12 history windows participate
    (TimeWindowAnalyzer.hpp:109): an over-threshold bucket older than 13
    windows produces nothing."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.timewindow import (
        timewindow_anomalies,
    )

    rows = []
    off = 0
    # bucket 0: 120 events in the first minute (> burst threshold 100)
    for i in range(120):
        rows.append((off, _line(T0 + dt.timedelta(seconds=off))))
        off += 0  # same second is fine
    # then one event per minute for 20 minutes -> bucket 0 falls out of history
    for m in range(1, 21):
        rows.append((m * 60, _line(T0 + dt.timedelta(seconds=m * 60))))
    df = _conv(spark, [(o, l) for o, l in rows])
    got = timewindow_anomalies(_parse(spark, df)).toPandas()
    assert len(got) == 0  # the hot bucket is too old to be seen

    # control: same hot bucket within the last 13 -> fires
    rows2 = [(0, _line(T0))] * 0
    rows2 = []
    for i in range(120):
        rows2.append((0, _line(T0)))
    for m in range(1, 6):
        rows2.append((m * 60, _line(T0 + dt.timedelta(seconds=m * 60))))
    df2 = _conv(spark, rows2)
    got2 = timewindow_anomalies(_parse(spark, df2)).toPandas()
    assert (got2["description"].str.startswith("Event burst: 120")).any()
