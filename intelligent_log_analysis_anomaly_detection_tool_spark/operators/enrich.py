"""J1-J3 broadcast-join enrichment + J4 rule evaluation.

The reference's "lookups" are in-memory hash maps (level-name map
LogParser.cpp:310-323, rule registry RuleBasedDetector.cpp:419-456); each
becomes an explicit ``broadcast()`` hash join so no shuffle is ever paid for
dimension data — at 100 TB the fact table never moves for these.

Rules (F4-F6): KEYWORD/LEVEL/SOURCE predicates from the rules table are
compiled into a single stacked boolean column per rule (crossJoin of a
broadcast 2-row table would also work; compiling to columns keeps the stage
inside whole-stage codegen). Faithful mode contributes ZERO routed rows —
matchesToAnomalies returns {} in the reference
(RuleBasedDetector.cpp:670-676) — but match counts are still observable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import (
    DIM_ROLE_ROWS, DIM_ROLE_SCHEMA, DIM_SEVERITY_ROWS, DIM_SEVERITY_SCHEMA,
    DIM_TOOL_ROWS, DIM_TOOL_SCHEMA, RULES_ROWS, RULES_SCHEMA,
)


def dims(spark: SparkSession) -> dict[str, DataFrame]:
    return {
        "dim_severity": spark.createDataFrame(DIM_SEVERITY_ROWS, DIM_SEVERITY_SCHEMA),
        "dim_role": spark.createDataFrame(DIM_ROLE_ROWS, DIM_ROLE_SCHEMA),
        "dim_tool": spark.createDataFrame(DIM_TOOL_ROWS, DIM_TOOL_SCHEMA),
        "rules": spark.createDataFrame(RULES_ROWS, RULES_SCHEMA),
    }


def enrich(parsed: DataFrame, d: dict[str, DataFrame]) -> DataFrame:
    """Left broadcast joins onto the parsed turns (J1-J3)."""
    out = (
        parsed.join(F.broadcast(d["dim_severity"]), "level_ord", "left")
        .join(F.broadcast(d["dim_role"]), "role", "left")
        .join(F.broadcast(d["dim_tool"]), "tool", "left")
    )
    return out


# --- §2.10 custom rule plugins -----------------------------------------------
# The reference registers IRulePlugin::evaluate(entry, config) callables by
# name (include/anomaly/RuleBasedDetector.hpp:102-110). Here a plugin is a
# function Column-builder: (parsed DataFrame columns) -> boolean Column,
# evaluated vectorized alongside the compiled rules.

_RULE_PLUGINS: dict[str, object] = {}


def register_rule_plugin(name: str, builder) -> None:
    """builder: callable(DataFrame) -> boolean Column."""
    _RULE_PLUGINS[name] = builder


def plugin_matches(parsed: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, plugin) rows for every registered plugin hit."""
    hits = []
    base = parsed.filter(~F.col("malformed"))
    for name, builder in sorted(_RULE_PLUGINS.items()):
        hits.append(
            base.filter(builder(base)).select(
                "conv_id", "turn_idx", F.lit(name).alias("plugin")
            )
        )
    if not hits:
        return parsed.sparkSession.createDataFrame(
            [], "conv_id STRING, turn_idx INT, plugin STRING"
        )
    out = hits[0]
    for h in hits[1:]:
        out = out.unionByName(h)
    return out


# F7 THRESHOLD rule defaults: RuleConfig{frequencyThreshold=5, timeWindow=60s}
# (include/anomaly/RuleBasedDetector.hpp:73,80). The reference's rule parser
# never sets these from the condition string, so every THRESHOLD rule runs
# with the defaults.
THRESHOLD_FREQ = 5
THRESHOLD_WINDOW_S = 60


def rule_matches(parsed: DataFrame, rules: DataFrame) -> DataFrame:
    """F4-F7 evaluated vectorized; returns (conv_id, turn_idx, rule_id) rows.

    KEYWORD: upper(message) contains upper(condition)
    LEVEL:   level_ord == int(condition)  (named levels never match,
             RuleBasedDetector.cpp:573-582)
    SOURCE:  upper(source) == upper(condition)
    THRESHOLD: EVENT-TIME respecification of checkThresholdRule
             (RuleBasedDetector.cpp:600-635): the reference records the
             wall-clock ARRIVAL time of every evaluated entry (the entry
             content is ignored) and fires when >= 5 events landed in the
             trailing 60 s (cleanup keeps events exactly 60 s old). In a
             batch/distributed engine processing time is meaningless, so the
             respec counts parsed turns by their event time, per conv_id
             (the engine's stream unit): fires when the trailing-60 s
             inclusive count — rank minus evicted, same eviction boundary as
             the reference's cleanup — reaches 5. Default registry has no
             THRESHOLD rules, so faithful mode is unchanged (zero rows).
    """
    from .detectors.common import trailing_count, with_epoch

    rows = rules.filter("enabled").collect()
    base = parsed.filter(~F.col("malformed"))
    if any(r.rule_type == "THRESHOLD" for r in rows):
        # window expr must be a plain column before it can sit inside the
        # fired-rules array (the analyzer doesn't extract windows nested in
        # explode(filter(array(...)))). Event-time ranked (epoch, turn_idx
        # tiebreak): THRESHOLD is an event-time respec, so the trailing count
        # must be consistent even on non-monotonic per-conv timestamps.
        base = with_epoch(base).withColumn(
            "_thr_n", trailing_count(THRESHOLD_WINDOW_S, "conv_id")
        )
        thr_pred = F.col("_thr_n") >= THRESHOLD_FREQ
    match_cols = []
    for r in rows:
        if r.rule_type == "KEYWORD":
            pred = F.upper(F.col("message")).contains(r.condition.upper())
        elif r.rule_type == "LEVEL":
            try:
                pred = F.col("level_ord") == int(r.condition)
            except ValueError:
                pred = F.lit(False)
        elif r.rule_type == "SOURCE":
            pred = F.upper(F.col("source")) == r.condition.upper()
        elif r.rule_type == "THRESHOLD":
            pred = thr_pred
        else:
            # TIME_WINDOW/SEQUENCE/PATTERN/COMPOSITE are placeholders that
            # always return false in the reference (RuleBasedDetector.cpp:637-667)
            pred = F.lit(False)
        match_cols.append(F.when(pred, F.lit(r.rule_id)))
    if not match_cols:
        return parsed.sparkSession.createDataFrame(
            [], "conv_id STRING, turn_idx INT, rule_id INT"
        )
    fired = F.filter(F.array(*match_cols), lambda x: x.isNotNull())
    return base.select("conv_id", "turn_idx", F.explode(fired).alias("rule_id"))
