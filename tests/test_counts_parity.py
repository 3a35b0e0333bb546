"""Full-table parity for the trickiest count semantics:
A10 n-gram sequence counts (overlap-recount weights) and A5 message-hash
counts, engine vs oracle — not just the novel/rare subsets."""

import pandas as pd

from pyspark.sql import functions as F


def _oracle_conv_counts(fixture_pdf, attr):
    from oracle.reference_oracle import run_conv

    out = {}
    for conv_id, g in fixture_pdf.sort_values(["conv_id", "turn_idx"]).groupby(
            "conv_id"):
        res = run_conv(conv_id, list(zip(g["turn_idx"], g["text"])))
        for k, v in getattr(res, attr).items():
            out[(conv_id, k)] = v
    return out


def test_sequence_counts_full_parity(spark, fixture_df, fixture_pdf):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        sequence_counts,
    )

    # subset of convs to keep the oracle loop quick
    convs = sorted(fixture_pdf["conv_id"].unique())[:12]
    sub_pdf = fixture_pdf[fixture_pdf["conv_id"].isin(convs)]
    sub_df = fixture_df.filter(F.col("conv_id").isin(convs))

    got = sequence_counts(parse_stage(sub_df)).toPandas()
    got_map = {(r["conv_id"], r["seq_sig"]): int(r["n"]) for _, r in got.iterrows()}
    want_map = _oracle_conv_counts(sub_pdf, "seq_counts")
    assert got_map == want_map


def test_pattern_stats_parity(spark, fixture_df, fixture_pdf):
    """A9 PatternAnalyzer::getStats parity vs the python oracle's seq_counts
    (/root/reference/src/analysis/PatternAnalyzer.cpp:74-117): totals,
    repeating (freq >= 2), error chains (sig contains ERROR/CRITICAL), and
    the top-10 by frequency. The reference's top-10 tie order is
    nondeterministic (std::sort on freq only); both sides here break ties by
    signature asc, so the comparison is well-defined."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        pattern_stats,
    )

    convs = sorted(fixture_pdf["conv_id"].unique())[:12]
    sub_pdf = fixture_pdf[fixture_pdf["conv_id"].isin(convs)]
    sub_df = fixture_df.filter(F.col("conv_id").isin(convs))

    res = pattern_stats(parse_stage(sub_df))
    got_stats = {
        r["conv_id"]: (int(r["total_patterns"]), int(r["repeating_patterns"]),
                       int(r["error_chains"]))
        for _, r in res["stats"].toPandas().iterrows()
    }
    top_pdf = res["top_patterns"].toPandas()
    got_top = {
        conv: [(r["seq_sig"], int(r["n"]))
               for _, r in g.sort_values("rank").iterrows()]
        for conv, g in top_pdf.groupby("conv_id")
    }

    want_counts = _oracle_conv_counts(sub_pdf, "seq_counts")
    by_conv = {}
    for (conv, sig), n in want_counts.items():
        by_conv.setdefault(conv, {})[sig] = n
    for conv, counts in by_conv.items():
        total = len(counts)
        repeating = sum(1 for v in counts.values() if v >= 2)
        chains = sum(
            1 for s in counts if "ERROR" in s or "CRITICAL" in s
        )
        assert got_stats[conv] == (total, repeating, chains), conv
        want_top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert got_top[conv] == want_top, conv
    assert set(got_stats) == set(by_conv)


def test_message_hash_counts_full_parity(spark, fixture_df, fixture_pdf):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.frequency import (
        message_hash,
    )

    got = (
        parse_stage(fixture_df)
        .filter(~F.col("malformed"))
        .withColumn("msg_hash", message_hash(F.col("message")))
        .groupBy("conv_id", "msg_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    got_map = {(r["conv_id"], r["msg_hash"]): int(r["n"]) for _, r in got.iterrows()}
    want_map = _oracle_conv_counts(fixture_pdf, "msg_hash_counts")
    assert got_map == want_map
