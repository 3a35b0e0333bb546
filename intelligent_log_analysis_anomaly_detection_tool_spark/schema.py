"""Schemas, enums and dimension data.

Enum ordinals mirror the reference exactly:
  - LogLevel   {Trace=0,Debug=1,Info=2,Warn=3,Error=4,Critical=5,Unknown=6}
    (/root/reference/include/core/LogEntry.hpp:25-34)
  - AnomalyType {FrequencySpike=0,RarePattern=1,StatisticalOutlier=2,
    SequenceViolation=3,Silence=4,Other=5}
    (/root/reference/include/core/Anomaly.hpp:28-36)
  - AnomalySeverity {Low=0,Medium=1,High=2,Critical=3}
    (/root/reference/include/core/Anomaly.hpp:44-50)
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- enums -----------------------------------------------------------------

LEVELS = ["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "CRITICAL", "UNKNOWN"]
LEVEL_ORD = {"TRACE": 0, "DEBUG": 1, "INFO": 2, "WARN": 3, "ERROR": 4,
             "CRITICAL": 5, "UNKNOWN": 6}

ANOMALY_TYPE = {
    "FrequencySpike": 0,
    "RarePattern": 1,
    "StatisticalOutlier": 2,
    "SequenceViolation": 3,
    "Silence": 4,
    "Other": 5,
}

SEVERITY = {"Low": 0, "Medium": 1, "High": 2, "Critical": 3}

# --- input table (authoritative shape: BASELINE.json input_hint) ------------

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# --- parse-stage output (P1-P8 result struct) -------------------------------

PARSED_FIELDS = [
    T.StructField("malformed", T.BooleanType(), False),
    T.StructField("error", T.StringType(), True),
    T.StructField("was_json", T.BooleanType(), False),
    T.StructField("ts_parsed", T.TimestampType(), True),
    T.StructField("level_ord", T.IntegerType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("message", T.StringType(), True),
]
PARSED_STRUCT = T.StructType(PARSED_FIELDS)

# --- anomaly output (union of all detector branches) ------------------------

ANOMALY_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
        T.StructField("detector", T.StringType(), False),
        T.StructField("anomaly_type", T.IntegerType(), False),
        T.StructField("severity", T.IntegerType(), False),
        T.StructField("window_start", T.TimestampType(), True),
        T.StructField("window_end", T.TimestampType(), True),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("source", T.StringType(), True),
        T.StructField("description", T.StringType(), False),
    ]
)

ANOMALY_COLS = [f.name for f in ANOMALY_SCHEMA.fields]

# --- dimension data (J1-J5) --------------------------------------------------

# J1 severity dim: level ordinal -> name + routing bucket.
DIM_SEVERITY_ROWS = [
    (0, "TRACE", "low"),
    (1, "DEBUG", "low"),
    (2, "INFO", "standard"),
    (3, "WARN", "standard"),
    (4, "ERROR", "high"),
    (5, "CRITICAL", "critical"),
    (6, "UNKNOWN", "standard"),
]
DIM_SEVERITY_SCHEMA = "level_ord INT, level_name STRING, sink_bucket STRING"

# J2 role dim.
DIM_ROLE_ROWS = [
    ("user", "human"),
    ("assistant", "agent"),
    ("system", "system"),
    ("tool", "tool"),
]
DIM_ROLE_SCHEMA = "role STRING, role_class STRING"

# J3 tool dim.
DIM_TOOL_ROWS = [
    ("search", "retrieval", "cheap"),
    ("code_exec", "compute", "expensive"),
    ("browser", "retrieval", "expensive"),
    ("retrieval", "retrieval", "cheap"),
    ("none", "none", "free"),
]
DIM_TOOL_SCHEMA = "tool STRING, tool_family STRING, cost_class STRING"

# J4 rules table (defaults from RuleBasedDetector.cpp:100-117). In faithful
# mode these contribute zero routed rows (matchesToAnomalies returns {}).
RULES_ROWS = [
    (1, "error_keyword", "KEYWORD", "ERROR", 0.9, 2, True),
    (2, "critical_keyword", "KEYWORD", "CRITICAL", 1.0, 3, True),
]
RULES_SCHEMA = (
    "rule_id INT, name STRING, rule_type STRING, condition STRING, "
    "rule_score DOUBLE, severity INT, enabled BOOLEAN"
)

# J5 sink routing: detector -> sink name (a literal map, no join); a
# detector missing here routes to "sink_other".
ROUTING = {
    "parser": "sink_malformed",
    "spike": "sink_spike",
    "statistical": "sink_statistical",
    "burst": "sink_burst",
    "rare_ip": "sink_rare_ip",
    "frequency": "sink_offline",
    "pattern": "sink_offline",
    "timewindow": "sink_offline",
}
