"""S9 dashboard data golden (round 5).

The structural test (test_dashboard.py) checks that all 12 charts render as
valid SVG; this test pins the DATA behind them — `chart_aggregates` on the
deterministic t_small fixture (seed=42, 50 convs) — so a computational
regression in any chart input (minute pivot, service ranking, error-message
top-N, IP extraction, per-source series) fails loudly even when the SVG
still renders. No reference golden exists for S9 (the reference emits a
matplotlib *script*, /root/reference/src/main.cpp:610-1069, and never runs
it), so this is a self-golden: values were computed once from the shipped
engine and reviewed against the fixture's construction.
"""

import math

from intelligent_log_analysis_anomaly_detection_tool_spark.dashboard import (
    LEVELS,
    chart_aggregates,
)
from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
    parse_stage,
)
from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
    minute_stats,
)


def test_chart_aggregates_golden(spark, fixture_df):
    parsed = parse_stage(fixture_df)
    aggs = chart_aggregates(parsed, minute_stats(parsed))

    ts = aggs["ts"]
    # 406 real minutes + one NULL bucket for rows whose timestamp did not
    # parse (minute_stats keeps them, mirroring the reference's malformed
    # accounting); pandas sorts the NULL bucket first.
    assert len(ts) == 407
    assert ts["minute"].isna().sum() == 1
    assert int(ts["total"].sum()) == 2244
    assert {lv: int(ts[lv].sum()) for lv in LEVELS} == {
        "trace": 88, "debug": 263, "info": 787, "warn": 580,
        "error": 384, "critical": 142, "unknown": 0,
    }
    assert str(ts["minute"].iloc[-1]) == "2025-01-05 12:04:00"

    # Service ranking: the fixture's bare "LEVEL message" lines put the
    # level token in the source slot (reference parse quirk, kept).
    svc = aggs["svc"]
    assert len(svc) == 11
    assert list(zip(svc["source"].head(5), svc["n"].head(5))) == [
        ("INFO", 563), ("WARN", 493), ("ERROR", 301),
        ("DEBUG", 195), ("api-gateway", 122),
    ]
    assert aggs["top_src"][:4] == ["INFO", "WARN", "ERROR", "DEBUG"]

    em = aggs["err_msgs"]
    assert len(em) == 10
    assert list(zip(em["message"].head(3), em["n"].head(3))) == [
        ("- User login successful", 50),
        ("- Connection closed unexpectedly", 43),
        ("- Login failed due to invalid password", 37),
    ]

    ips = aggs["ips"]
    assert list(zip(ips["ip"].head(3), ips["n"].head(3))) == [
        ("192.168.1.7", 24), ("172.16.1.2", 4), ("172.16.3.4", 4),
    ]
    assert len(ips) == 15

    pm = aggs["per_min_src"]
    assert len(pm) == 1125
    # top-12 sources cover every parsed row in this fixture (only 11 exist)
    assert int(pm["n"].sum()) == 2244

    # z-score chart input: recompute the render-side stats and pin them
    total = [float(x) for x in ts["total"]]
    mu = sum(total) / len(total)
    sd = math.sqrt(sum((x - mu) ** 2 for x in total) / (len(total) - 1))
    assert abs(mu - 2244 / 407) < 1e-9
    assert 0.0 < sd < 50.0
    assert max((x - mu) / sd for x in total) > 3.0  # the hot minute crosses the hline
