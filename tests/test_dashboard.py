"""S9 dashboard sink: 12-chart SVG render + index.html
(re-expresses /root/reference/src/main.cpp:610-1069)."""

import os
import xml.dom.minidom

from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
    parse_stage,
)

EXPECTED = [
    "01_log_volume_over_time.svg",
    "02_error_rate_over_time.svg",
    "03_log_level_distribution_over_time_stacked.svg",
    "04_moving_average_trend.svg",
    "05_zscore_over_time.svg",
    "06_log_level_distribution_bar.svg",
    "07_service_activity_distribution.svg",
    "08_top_error_messages.svg",
    "09_ip_address_frequency.svg",
    "10_heatmap_time_vs_log_level.svg",
    "11_service_correlation_matrix.svg",
    # 12 (IsolationForest) mirrors the reference: self-skips without sklearn
    "index.html",
]


def test_dashboard_renders(spark, fixture_df, tmp_path, capsys):
    from intelligent_log_analysis_anomaly_detection_tool_spark.dashboard import (
        write_dashboard,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )

    parsed = parse_stage(fixture_df)
    out = str(tmp_path / "graphs")
    capsys.readouterr()
    written = write_dashboard(out, parsed, minute_stats(parsed))
    # stdout stays free for a caller's report (jobs/run_pipeline.py prints
    # JSON there); the chart-12 skip note goes to stderr
    assert capsys.readouterr().out == ""

    have_sklearn = True
    try:
        import sklearn  # noqa: F401
    except ImportError:
        have_sklearn = False
    expected = list(EXPECTED)
    if have_sklearn:
        expected.insert(-1, "12_isolation_forest_anomaly_score.svg")
    assert sorted(written) == sorted(expected)
    for name in written:
        path = os.path.join(out, name)
        assert os.path.getsize(path) > 0
        if name.endswith(".svg"):
            doc = xml.dom.minidom.parse(path)  # valid XML
            assert doc.documentElement.tagName == "svg"
    index = open(os.path.join(out, "index.html")).read()
    for name in written:
        if name.endswith(".svg"):
            assert name in index
