"""Golden parity against the reference's OWN fixture corpus and its published
benchmark row (/root/reference/output/benchmark_runs.csv:2):

    parsed=21015, malformed=5777, emitted_anomalies=42065

This engine reproduces parsed/malformed EXACTLY and emits 42038 anomalies —
identical to the trusted python oracle on the same lines.

The 27-row delta was root-caused by REBUILDING the reference C++ (g++,
TZ=UTC) and probing its TimeWindowAnalyzer in isolation: all 27 extra
anomalies are UNDEFINED-BEHAVIOR artifacts — ``TimeWindowAnalyzer::Anomaly``
leaves ``double score`` uninitialized (include/analysis/
TimeWindowAnalyzer.hpp:32); ``checkErrorSpike``/``checkBurst``/``checkSilence``
assign it only when a check fires, and ``detectAnomalies`` then reads the
indeterminate value through ``score > 0.0``
(src/analysis/TimeWindowAnalyzer.cpp:44-71). On the observed builds the
garbage is a positive denormal (~1e-310), so exactly 13 windows x 2 checks +
1 silence = 27 empty-description, zero-event anomalies leak out. This engine
implements the INTENDED semantics (emit only when a check actually fires),
matching the reference everywhere else."""

import os

import pytest

REF_LOG = "/root/reference/data-set/mixed_format_log_2_3MB.log"


@pytest.mark.skipif(not os.path.exists(REF_LOG), reason="reference corpus absent")
def test_reference_corpus_counts(spark):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        all_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.sources.transcripts import (
        read_raw_log_file,
    )

    df = read_raw_log_file(spark, REF_LOG, conv_id="run")
    parsed = parse_stage(df).persist()
    try:
        assert parsed.filter("not malformed").count() == 21015
        assert parsed.filter("malformed").count() == 5777
        assert all_anomalies(parsed).count() == 42038  # == python oracle
    finally:
        parsed.unpersist()
