"""Physical-plan regression guards: the shapes the scale design depends on
(broadcast-only dim joins, merged window sorts, parquet pushdown, single
parse evaluation) must not silently regress."""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_pushdown_and_pruning(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    p = _plan(ev.filter(F.col("event_type") == "error").select("event_id", "ts"))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in p
    assert "ReadSchema: struct<event_id:bigint,ts:timestamp_ntz,event_type:string>" in p


def test_enrich_is_broadcast_only(spark, fixture_df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.enrich import (
        dims,
        enrich,
    )

    p = _plan(enrich(parse_stage(fixture_df), dims(spark)))
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 2


def test_routing_has_no_join(spark, tmp_path):
    """J5 is a literal map lookup: the routed plan has no join of any kind,
    every ROUTING detector gets its sink and an unknown one ``sink_other``."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        ANOMALY_SCHEMA,
        ROUTING,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.sinks import (
        route_anomalies,
    )

    detectors = [*ROUTING, "unknown"]
    rows = [("c", i, d, 5, 0, None, None, 1.0, "s", "x")
            for i, d in enumerate(detectors)]
    # read back from parquet so the input is a file scan, not a local
    # relation the optimizer could fold the lookup into
    path = str(tmp_path / "anomalies")
    spark.createDataFrame(rows, ANOMALY_SCHEMA).write.parquet(path)
    routed = route_anomalies(spark.read.parquet(path))

    assert "Join" not in _plan(routed)
    got = {r["detector"]: r["sink_name"] for r in routed.collect()}
    assert got == {**ROUTING, "unknown": "sink_other"}
    assert routed.columns[0] == "detector"
    assert routed.columns[-1] == "sink_name"


def test_fused_online_single_sort(spark, fixture_pdf):
    """W1+W2 fused pass: ONE Exchange hashpartitioning(conv_id, source) and
    ONE Sort — the rank/prefix windows order by (epoch, turn_idx) and the
    range frames by (epoch), both satisfied by the same physical sort."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.online_fused import (
        spike_statistical_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    p = _plan(spike_statistical_anomalies(parse_stage(fresh)))
    if "InMemoryRelation" in p:
        return
    assert p.count("Exchange hashpartitioning") == 1, p
    assert p.count("+- Sort") == 1, p


def test_burst_single_exchange(spark, fixture_pdf):
    """The burst scan's explicit repartition must not introduce a second
    shuffle: the count-window already hash-partitions by (conv_id,
    burst_key), and the executed plan keeps exactly ONE Exchange (verified
    round 4 per ADVICE; this pins it)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.burst import (
        burst_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    p = _plan(burst_anomalies(parse_stage(fresh)))
    if "InMemoryRelation" in p:
        return
    assert p.count("Exchange") == 1, p


def test_pattern_kernel_reads_base_in_place(spark, fixture_pdf):
    """The gram kernel groups _sig_base by (conv_id, bucket), which is the
    base's own REPARTITION_BY_COL hash partitioning and sort prefix: the
    final plan has exactly one Sort (the base's) and no Exchange between
    that exchange and the Arrow group kernel, and exactly one Exchange (the
    (conv_id, gh) merge of the chunk partials) after it."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        sequence_counts,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(800), schema=TRANSCRIPTS_SCHEMA)
    q = sequence_counts(parse_stage(fresh))
    q.collect()  # the adaptive plan is final once every stage has run
    lines = _plan(q).splitlines()
    kernel = next(i for i, l in enumerate(lines) if "FlatMapGroupsInArrow" in l)
    base = next(i for i, l in enumerate(lines)
                if i > kernel and "REPARTITION_BY_COL" in l)
    assert "Exchange hashpartitioning(conv_id" in lines[base], lines
    between = lines[kernel + 1:base]
    assert len([l for l in between if "Sort " in l]) == 1, lines
    assert not [l for l in between if "Exchange" in l], lines
    above = [l for l in lines[:kernel] if "Exchange " in l]
    assert len(above) == 1 and "hashpartitioning" in above[0], lines


def test_parse_evaluated_once_in_spike(spark, fixture_pdf):
    """The parse stage is one mapInArrow node, a barrier Catalyst does not
    split or push consumers through, so the W1+W2 pass's several reads
    of the parsed columns share a single evaluation: exactly one MapInArrow
    in the plan. Uses a FRESH uncached input so the cache manager cannot
    substitute persisted subtrees from other tests (their plan descriptions
    would pollute the string counts)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.online_fused import (
        spike_statistical_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf.head(500), schema=TRANSCRIPTS_SCHEMA)
    p = _plan(spike_statistical_anomalies(parse_stage(fresh)))
    if "InMemoryRelation" in p:  # another test cached an identical subtree
        return
    assert p.count("MapInArrow") == 1, p


def test_minute_stats_reads_with_minute_once(spark, fixture_pdf):
    """The minute pivot counts each online fire in its own window_end minute,
    so with_minute's prefix scan (a local Window, a carry Window and the
    carry join) is evaluated once and the only other join is the left join
    of the per-minute fire counts: the final plan has exactly 2 Window
    operators and 2 joins. The fires are a plain frame of the fixture's
    real online rows, so the count covers the pivot's plan alone and the
    fires match parsed rows (an unmatched join would be pruned by AQE)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.aggregates import (
        minute_stats,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.plans.pipeline import (
        online_anomalies,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        ANOMALY_SCHEMA,
        TRANSCRIPTS_SCHEMA,
    )

    fresh = spark.createDataFrame(fixture_pdf, schema=TRANSCRIPTS_SCHEMA)
    fires = spark.createDataFrame(
        online_anomalies(parse_stage(fresh)).toPandas(), schema=ANOMALY_SCHEMA
    )
    q = minute_stats(parse_stage(fresh), fires)
    q.collect()  # the adaptive plan is final once every stage has run
    final = _plan(q).split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow \[", final)) == 2, final
    assert len(re.findall(r"\w+Join\b", final)) == 2, final
