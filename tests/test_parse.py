"""Parse-stage parity: Arrow kernel == Spark stage == per-row oracle == quirks.

The per-turn text-equality invariant (BASELINE.json input_hint) is the
full-frame comparison in test_parse_parity_fixture.
"""

import datetime as dt

import pandas as pd
import pyarrow as pa
import pytest

from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_arrow import (
    parse_arrays,
)
from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
    PIPELINE_DROP,
    parse_stage,
    parse_stage_pipeline,
)
from oracle.reference_oracle import parse_line

EDGE_LINES = [
    "",
    "   ",
    "\t\r",
    "?????",
    "null null null",
    "%%%%%%%@@@@@@@#####",
    "2025-01-01 10:00:00 [INFO] auth-service - User login successful",
    "2025-01-01 10:00:00 [ERROR] db-service - Database timeout occurred",
    # level-order quirk P3: INFO wins even when ERROR present later
    "2025-01-01 10:00:00 [ERROR] svc - info mismatch found",
    "2025-01-01 10:00:00 INFO no brackets here at all",
    # separators unchecked in ts parse
    "2025/01/01T10:00:00 [WARN] svc - odd separators line",
    # short line -> <=20 chars -> no matching pattern
    "2025-01-01 10:00:00",
    "2025-01-01 10:00:00 x",
    "2025-01-01 10:00:00 [DEBUG] a b",
    # exactly 20 chars: no prefix drop, so the message is tokens[2:] of the
    # whole line (LogParser.cpp:374-377; separators unchecked)
    "2025 01 01 10:00:00x",
    # colon-source rule: token before first ':' with no space
    "source: 2025-01-01 10:00:00 message words here",
    # json happy path
    '{"timestamp": "2025-01-01T10:00:00", "level": "INFO", "service": "db-service", "message": "hello world", "request_id": 7}',
    # alias keys
    '{"time": "2025-01-01 10:00:01", "severity": "warn", "component": "gw", "msg": "aliased keys"}',
    '{"@timestamp": "2025-01-01T10:00:02", "level": "CRITICAL", "msg": "no source -> unknown"}',
    # missing fields taxonomy
    '{"timestamp": "2025-01-01T00:00:00", "message": "no level here"}',
    '{"level": "INFO", "message": "no timestamp"}',
    '{"level": "INFO", "timestamp": "2025-01-01T00:00:00"}',
    '{broken json',
    # invalid ts format in json
    '{"timestamp": "not-a-time-but-long-enough", "level": "INFO", "message": "x"}',
    '{"timestamp": "short", "level": "INFO", "message": "x"}',
    # escaped quotes in json values
    '{"timestamp": "2025-01-01T10:00:03", "level": "error", "message": "he said \\"hi\\" loudly", "service": "a"}',
    # non-string json value read to comma
    '{"timestamp": "2025-01-01T10:00:04", "level": 3, "message": "numeric level"}',
    # empty message is valid for JSON path, invalid for plain path
    '{"timestamp": "2025-01-01T10:00:05", "level": "INFO", "message": ""}',
    "2025-01-01 10:00:00 [INFO] svc -",
    # multiple consecutive spaces preserved in message join
    "2025-01-01 10:00:00 [INFO] svc -  double  spaces  kept",
    # WARNING alias maps to Warn in plain path
    "2025-01-01 10:00:00 [WARNING] svc - warning alias line",
    # FATAL maps to Critical
    "2025-01-01 10:00:00 [FATAL] svc - fatal line here",
]


def _oracle_frame(lines):
    rows = []
    for line in lines:
        e, err = parse_line(line)
        if e is None:
            rows.append(dict(malformed=True, error=err, was_json=line.strip(
                " \t\n\v\f\r").startswith("{"), ts_parsed=None, level_ord=None,
                source=None, message=None))
        else:
            rows.append(dict(
                malformed=False, error=None, was_json=e["was_json"],
                ts_parsed=dt.datetime.fromtimestamp(e["ts"], dt.timezone.utc)
                .replace(tzinfo=None),
                level_ord=e["level"], source=e["source"], message=e["message"]))
    return pd.DataFrame(rows)


def _arrow_frame(lines):
    out = parse_arrays(pa.array(lines, pa.string()))
    return pd.DataFrame({k: v.to_pandas() for k, v in out.items()})


def _normalize(df):
    out = df.copy()
    out["level_ord"] = out["level_ord"].astype("Float64")
    out["ts_parsed"] = pd.to_datetime(out["ts_parsed"]).astype("datetime64[ns]")
    out["error"] = out["error"].astype(object).where(out["error"].notna(), None)
    out["source"] = out["source"].astype(object).where(out["source"].notna(), None)
    out["message"] = out["message"].astype(object).where(out["message"].notna(), None)
    out["malformed"] = out["malformed"].astype(bool)
    out["was_json"] = out["was_json"].astype(bool)
    return out.reset_index(drop=True)


def test_parse_edge_lines_match_oracle():
    got = _normalize(_arrow_frame(EDGE_LINES))
    want = _normalize(_oracle_frame(EDGE_LINES))
    pd.testing.assert_frame_equal(got, want)


def test_parse_parity_fixture(fixture_pdf):
    """Per-turn equality of every parsed field on the full t_small fixture."""
    lines = fixture_pdf["text"].tolist()
    got = _normalize(_arrow_frame(lines))
    want = _normalize(_oracle_frame(lines))
    pd.testing.assert_frame_equal(got, want)


def test_source_quirk_bracket_is_level():
    """P4 quirk: plain '[LEVEL]' lines parse source == LEVEL token."""
    out = _arrow_frame(
        ["2025-01-01 10:00:00 [INFO] auth-service - User login successful"])
    assert out.loc[0, "source"] == "INFO"
    assert out.loc[0, "message"] == "- User login successful"


def test_level_order_quirk():
    out = _arrow_frame(
        ["2025-01-01 10:00:00 [ERROR] svc - info mismatch found"])
    assert out.loc[0, "level_ord"] == 2  # INFO wins by search order


@pytest.mark.usefixtures("spark")
def test_parse_stage_spark_matches_pandas(spark, fixture_df, fixture_pdf):
    got = (
        parse_stage(fixture_df)
        .select("conv_id", "turn_idx", "malformed", "error", "was_json",
                "ts_parsed", "level_ord", "source", "message")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
    )
    nonempty = fixture_pdf[fixture_pdf["text"].str.len() > 0].reset_index(drop=True)
    want = _normalize(_oracle_frame(nonempty["text"].tolist()))
    want.insert(0, "conv_id", nonempty["conv_id"])
    want.insert(1, "turn_idx", nonempty["turn_idx"])
    got_n = _normalize(got.drop(columns=["conv_id", "turn_idx"]))
    got_n.insert(0, "conv_id", got["conv_id"])
    got_n.insert(1, "turn_idx", got["turn_idx"])
    pd.testing.assert_frame_equal(got_n, want)


def test_parse_stage_pipeline_narrow(spark, fixture_df):
    """parse_stage_pipeline == parse_stage minus PIPELINE_DROP: same rows,
    same values in every kept column, and none of the dropped columns in the
    schema (they are dropped inside the exchange without disturbing the kept
    ones)."""
    got = parse_stage_pipeline(fixture_df)
    assert not set(PIPELINE_DROP) & set(got.columns)
    want = parse_stage(fixture_df).drop(*PIPELINE_DROP)
    assert got.columns == want.columns
    g = got.toPandas().sort_values(["conv_id", "turn_idx"], ignore_index=True)
    w = want.toPandas().sort_values(["conv_id", "turn_idx"], ignore_index=True)
    pd.testing.assert_frame_equal(g, w)
