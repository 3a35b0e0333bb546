"""A1-A4 aggregates + S7 parsed-turns sink vs oracle; the resumable job's
run-level sinks (S4, S5 CSV, S6, S8) vs oracle."""

import json
import os

import pandas as pd
import pytest

from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
    parse_stage,
)
from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
    level_stats,
    minute_stats,
    source_stats,
)


@pytest.fixture(scope="session")
def parsed_df(fixture_df):
    df = parse_stage(fixture_df).persist()
    df.count()
    return df


def _assert_oracle_minutes(got, oracle_result):
    """``got`` (a minute_stats frame as pandas) == the oracle minute pivot."""
    got = got.copy()
    got["minute"] = (
        pd.to_datetime(got["minute"]).astype("int64") // 10**9
    ).where(got["minute"].notna()).astype("Int64")
    got = got.sort_values("minute", ignore_index=True, na_position="first")

    want = oracle_result["minutes"].copy()
    want["minute"] = want["minute"].astype("Int64")
    want = want.sort_values("minute", ignore_index=True, na_position="first")
    cols = ["minute", "total", "trace", "debug", "info", "warn", "error",
            "critical", "unknown", "anomalies", "malformed"]
    for c in cols[1:]:
        got[c] = got[c].astype("int64")
        want[c] = want[c].astype("int64")
    pd.testing.assert_frame_equal(got[cols], want[cols])


def test_minute_stats(parsed_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        online_anomalies,
    )

    got = minute_stats(parsed_df, online_anomalies(parsed_df)).toPandas()
    _assert_oracle_minutes(got, oracle_result)


def test_minute_stats_keeps_only_online_fires(parsed_df):
    """The pivot filters the anomaly frame to online fires itself (offline
    rows have no turn_idx, parser rows no window), so every anomaly gives
    the same pivot as the online union."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        all_anomalies,
        online_anomalies,
    )

    def pivot(anomalies):
        return (
            minute_stats(parsed_df, anomalies).toPandas()
            .sort_values("minute", ignore_index=True, na_position="first")
        )

    online = pivot(online_anomalies(parsed_df))
    assert online["anomalies"].sum() > 0
    pd.testing.assert_frame_equal(pivot(all_anomalies(parsed_df)), online)


def test_level_stats(parsed_df, oracle_result):
    got = (
        level_stats(parsed_df)
        .toPandas()[["level_ord", "n"]]
        .astype("int64")
        .sort_values("level_ord", ignore_index=True)
    )
    want = (
        oracle_result["level_stats"]
        .astype("int64")
        .sort_values("level_ord", ignore_index=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_source_stats(parsed_df, oracle_result):
    got = (
        source_stats(parsed_df)
        .toPandas()
        .sort_values("source", ignore_index=True)
    )
    want = oracle_result["source_stats"].sort_values("source", ignore_index=True)
    for c in ("total_events", "error_events", "warning_events"):
        got[c] = got[c].astype("int64")
        want[c] = want[c].astype("int64")
    pd.testing.assert_frame_equal(got, want)


def test_parsed_turns_text_equality(parsed_df, oracle_result):
    """The per-turn text-equality invariant (BASELINE.json input_hint) on the
    S7 entries sink projection."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.sinks import (
        parsed_turns_view,
    )

    got = (
        parsed_turns_view(parsed_df)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )
    want = oracle_result["parsed"]
    want = want[~want["malformed"]].copy()
    want["ts_iso"] = pd.to_datetime(want["ts"], unit="s").dt.strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    names = ["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "CRITICAL", "UNKNOWN"]
    want["level_name"] = want["level"].map(lambda x: names[int(x)])
    want = want[["conv_id", "turn_idx", "ts_iso", "level_name", "source",
                 "message"]].sort_values(["conv_id", "turn_idx"],
                                         ignore_index=True)
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    pd.testing.assert_frame_equal(got, want)


@pytest.fixture(scope="module")
def job_out(spark, fixture_df, tmp_path_factory):
    """The output directory of one resumable-job run over the fixture."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.checkpoint import (
        run_resumable,
    )

    out = str(tmp_path_factory.mktemp("job") / "out")
    run_resumable(spark, fixture_df, out)
    return out


def test_full_pipeline_counts(job_out, oracle_result):
    """End-to-end run with sinks: per-sink counts == oracle per-detector counts."""
    with open(os.path.join(job_out, "run_metrics.json")) as fh:
        metrics = json.load(fh)
    oa = oracle_result["anomalies"]
    by_det = oa.groupby("detector").size().to_dict()
    want_counts = {
        "sink_malformed": by_det.get("parser", 0),
        "sink_spike": by_det.get("spike", 0),
        "sink_statistical": by_det.get("statistical", 0),
        "sink_burst": by_det.get("burst", 0),
        "sink_rare_ip": by_det.get("rare_ip", 0),
        "sink_offline": (
            by_det.get("frequency", 0)
            + by_det.get("pattern", 0)
            + by_det.get("timewindow", 0)
        ),
    }
    got_counts = {k: v for k, v in metrics["sink_counts"].items() if v}
    assert got_counts == {k: v for k, v in want_counts.items() if v}
    assert metrics["parsed"] == (~oracle_result["parsed"]["malformed"]).sum()
    assert metrics["malformed"] == oracle_result["parsed"]["malformed"].sum()
    assert metrics["emitted_anomalies"] == len(oa)


def test_timeseries_minute_sink(spark, job_out, oracle_result):
    """S6: the job's ``timeseries_minute/`` == the oracle minute pivot."""
    got = spark.read.parquet(os.path.join(job_out, "timeseries_minute")).toPandas()
    _assert_oracle_minutes(got, oracle_result)


@pytest.mark.parametrize("sink,cap", [("report_json", 100), ("report_csv", 1000)])
def test_report_sinks(spark, job_out, oracle_result, sink, cap):
    """S4/S5: min(cap, n) anomalies, the oracle's first rows in O1 order."""
    path = os.path.join(job_out, sink)
    if sink == "report_json":
        got = spark.read.json(path)
    else:
        got = spark.read.option("header", True).option("inferSchema", True).csv(path)
    got = got.toPandas()

    want = oracle_result["anomalies"].sort_values(
        ["severity", "score", "window_end", "description"],
        ascending=[False, False, False, True],
    ).head(cap)
    assert len(got) == min(cap, len(oracle_result["anomalies"]))
    assert got["severity"].astype("int64").tolist() == want["severity"].tolist()
    assert got["description"].tolist() == want["description"].tolist()
    assert got["score"].to_numpy() == pytest.approx(want["score"].to_numpy())


def test_with_minute_chunked_carry(spark, monkeypatch):
    """The prefix-scan decomposition of with_minute (round 5): force the
    multi-chunk path with a 3-row chunk and pin against a pandas ffill.
    Layout stresses every carry case: a malformed prefix before any parsed
    row (stays NULL), whole chunks of only-malformed rows (carry crosses
    several chunk boundaries), and turn_idx gaps."""
    import pandas as pd

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators import (
        aggregates as agg_mod,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        with_minute,
    )

    rows = []
    # conv x: malformed until turn 4; parsed at 4 and 17; malformed chunks
    # 2..4 in between (C=3); turn gaps at 8..12
    ts = lambda m: pd.Timestamp(f"2024-01-01 00:{m:02d}:30")
    for i in [0, 1, 2, 3]:
        rows.append(("x", i, True, None))
    rows.append(("x", 4, False, ts(4)))
    for i in [5, 6, 7, 13, 14, 15, 16]:
        rows.append(("x", i, True, None))
    rows.append(("x", 17, False, ts(17)))
    rows.append(("x", 18, True, None))
    # conv y: all parsed, single chunk
    for i in range(3):
        rows.append(("y", i, False, ts(i)))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "malformed",
                                      "ts_parsed"])
    df = spark.createDataFrame(pdf)

    monkeypatch.setattr(agg_mod, "_MINUTE_CHUNK_ROWS", 3)
    got = (
        with_minute(df).select("conv_id", "turn_idx", "minute").toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )

    exp = pdf.sort_values(["conv_id", "turn_idx"], ignore_index=True)
    own = exp["ts_parsed"].where(~exp["malformed"]).dt.floor("min")
    exp["minute"] = own.groupby(exp["conv_id"]).ffill()
    pd.testing.assert_series_equal(
        got["minute"], exp["minute"], check_names=False)


def test_console_report(parsed_df, oracle_result):
    """S3: the per-level lines carry the A2 level counts, and the top-N
    anomaly lines are the first N rows in O1 report order."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        all_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import LEVELS
    from intelligent_log_analysis_anomaly_detection_tool_spark.sinks import (
        console_report,
    )

    text = console_report({
        "level_stats": level_stats(parsed_df),
        "source_stats": source_stats(parsed_df),
        "anomalies": all_anomalies(parsed_df),
    }, top_n=5)
    lines = text.split("\n")

    want_levels = {
        LEVELS[int(r.level_ord)]: int(r.n)
        for r in oracle_result["level_stats"].itertuples()
    }
    start = lines.index(f"Parsed entries: {sum(want_levels.values())}") + 1
    got_levels = {}
    for line in lines[start:lines.index("-" * 60)]:
        name, n, _bar = line.split()
        got_levels[name] = int(n)
    assert got_levels == want_levels

    top = oracle_result["anomalies"].sort_values(
        ["severity", "score", "window_end", "description"],
        ascending=[False, False, False, True],
    ).head(5)
    want_top = [
        f"  [sev={r.severity}] {r.detector:<12} score={r.score:.2f} "
        f"{r.description[:70]}"
        for r in top.itertuples()
    ]
    start = lines.index("Top 5 anomalies:") + 1
    assert lines[start:start + 5] == want_top
    assert lines[start + 5] == "=" * 60
