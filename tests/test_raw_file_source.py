"""S1: raw log file -> transcript rows -> parse == oracle on the same lines
(the reference's actual input shape, one conversation per file)."""

import pandas as pd


def test_raw_log_file_roundtrip(spark, fixture_pdf, tmp_path):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.sources.transcripts import (
        read_raw_log_file,
    )
    from oracle.reference_oracle import parse_line

    lines = fixture_pdf["text"].head(800).tolist()
    # a raw file cannot carry empty-vs-missing distinctions; keep non-empty
    lines = [l for l in lines if l != ""]
    path = tmp_path / "one_conv.log"
    path.write_text("\n".join(lines) + "\n")

    df = read_raw_log_file(spark, str(path))
    got = (
        parse_stage(df)
        .select("turn_idx", "malformed", "level_ord", "source", "message")
        .toPandas()
        .sort_values("turn_idx", ignore_index=True)
    )
    assert got["turn_idx"].tolist() == list(range(len(lines)))  # file order kept

    for i, line in enumerate(lines):
        e, err = parse_line(line)
        row = got.iloc[i]
        assert bool(row["malformed"]) == (e is None), (i, line)
        if e is not None:
            assert row["level_ord"] == e["level"]
            assert row["source"] == e["source"]
            assert row["message"] == e["message"]
