"""S10 config loader, J4 rule evaluation, §2.10 plugin registry."""

from pyspark.sql import functions as F

from intelligent_log_analysis_anomaly_detection_tool_spark.functions.config_loader import (
    parse_config_text,
    pipeline_config_from,
    rules_from_config,
)

CFG_TEXT = """
# comment line
spike.threshold = 4.5
burst.min_repeats = 30   ; trailing comment
spike.threshold = 5.0    # last wins
rule.1 = error_keyword KEYWORD ERROR
rule.1.severity = 0.9
rule.2 = db_source SOURCE db-service
rule.2.enabled = false
rule.3 = warn_level LEVEL 3
"""


def test_parse_config_text():
    cfg = parse_config_text(CFG_TEXT)
    assert cfg["spike.threshold"] == "5.0"
    assert cfg["burst.min_repeats"] == "30"


def test_pipeline_config_mapping():
    pc = pipeline_config_from(parse_config_text(CFG_TEXT))
    assert pc.spike.threshold == 5.0
    assert pc.burst.min_repeats == 30
    assert pc.statistical.z_threshold == 3.0  # untouched default


def test_rules_from_config():
    rows = rules_from_config(parse_config_text(CFG_TEXT))
    assert rows[0][:4] == (1, "error_keyword", "KEYWORD", "ERROR")
    assert rows[0][5] == 2  # severity 0.9 -> High
    assert rows[1][6] is False  # disabled
    assert rows[2][2] == "LEVEL"


def test_rule_matches_and_plugins(spark, fixture_df, oracle_result):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.enrich import (
        plugin_matches,
        register_rule_plugin,
        rule_matches,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        RULES_SCHEMA,
    )

    parsed = parse_stage(fixture_df)
    rows = rules_from_config(parse_config_text(CFG_TEXT))
    rules = spark.createDataFrame(rows, RULES_SCHEMA)
    m = rule_matches(parsed, rules).toPandas()

    po = oracle_result["parsed"]
    ok = po[~po["malformed"]]
    want_kw = int(ok["message"].str.upper().str.contains("ERROR", regex=False).sum())
    want_lvl = int((ok["level"] == 3).sum())
    got = m.groupby("rule_id").size().to_dict()
    assert got.get(1, 0) == want_kw
    assert got.get(3, 0) == want_lvl
    assert 2 not in got  # disabled rule contributes nothing

    register_rule_plugin(
        "has_ip", lambda df: F.regexp_extract("message", r"\d+\.\d+\.\d+\.\d+", 0) != ""
    )
    p = plugin_matches(parsed).toPandas()
    assert (p["plugin"] == "has_ip").all()
    assert len(p) > 0


def test_threshold_rule_event_time(spark):
    """F7 THRESHOLD rule (event-time respec of RuleBasedDetector.cpp:600-635):
    fires on the turn where the trailing-60 s inclusive count reaches 5;
    an event exactly 60 s old is KEPT (cleanup drops front < cutoff only);
    one that is 61 s old is evicted, so the count stays at 4 -> no fire."""
    import datetime

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.enrich import (
        rule_matches,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        RULES_SCHEMA,
    )

    def ts(s):
        return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s)

    rows = []
    for conv, secs in [
        ("fires_dense", [0, 10, 20, 30, 40]),      # count 1..5 -> fires on 5th
        ("evicted_4", [0, 10, 20, 30, 61]),        # front evicted -> count 4
        ("boundary_60", [0, 10, 20, 30, 60]),      # 60 s old kept -> count 5
        ("only_4", [0, 10, 20, 30]),               # never reaches 5
    ]:
        for i, s in enumerate(secs):
            rows.append((conv, i, False, None, 2, "svc", "msg", ts(s)))
    parsed = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, malformed boolean, error string, "
        "level_ord int, source string, message string, ts_parsed timestamp",
    )
    cfg_rows = rules_from_config(parse_config_text("rule.4 = flood THRESHOLD any\n"))
    rules = spark.createDataFrame(cfg_rows, RULES_SCHEMA)
    got = rule_matches(parsed, rules).toPandas()
    assert set(zip(got["conv_id"], got["turn_idx"])) == {
        ("fires_dense", 4), ("boundary_60", 4)
    }
    assert (got["rule_id"] == 4).all()


def test_threshold_rule_out_of_order_timestamps(spark):
    """THRESHOLD on NON-monotonic per-conv timestamps (ADVICE r2): the
    trailing count must rank by epoch, not file order, so a late-arriving
    early-timestamp line neither inflates nor deflates the window count.
    Conv 'ooo': file order has second 40 arriving before second 30 — in
    event time the trailing-60s count still reaches 5 exactly once, at the
    row whose epoch is 40 (turn_idx 3, where 4 earlier-or-equal-epoch events
    are within 60 s)."""
    import datetime

    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.enrich import (
        rule_matches,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        RULES_SCHEMA,
    )

    def ts(s):
        return datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=s)

    # file order: 0, 10, 20, 40, 30  (last two swapped in event time)
    rows = [
        ("ooo", i, False, None, 2, "svc", "msg", ts(s))
        for i, s in enumerate([0, 10, 20, 40, 30])
    ]
    parsed = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, malformed boolean, error string, "
        "level_ord int, source string, message string, ts_parsed timestamp",
    )
    cfg_rows = rules_from_config(parse_config_text("rule.4 = flood THRESHOLD any\n"))
    rules = spark.createDataFrame(cfg_rows, RULES_SCHEMA)
    got = rule_matches(parsed, rules).toPandas()
    # event-time order is 0,10,20,30,40 -> count reaches 5 at epoch 40,
    # which is the row with turn_idx 3
    assert set(zip(got["conv_id"], got["turn_idx"])) == {("ooo", 3)}


def test_faithful_rules_add_no_rows(fixture_df):
    """F9: the reference's matchesToAnomalies returns {}, so rule matches
    never reach the anomaly union; online_anomalies takes no rules at all."""
    import inspect

    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        online_anomalies,
    )

    assert list(inspect.signature(online_anomalies).parameters) == ["parsed", "cfg"]
    detectors = {
        r["detector"]
        for r in online_anomalies(parse_stage(fixture_df))
        .select("detector").distinct().collect()
    }
    assert "rules" not in detectors
    assert {"parser", "burst"} <= detectors
