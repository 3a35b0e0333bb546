"""Round-5 chunked pattern-stage parity: the hot-conversation fix partitions
every lead window by (conv_id, turn_idx // _CHUNK_ROWS) with overlap pads
(pattern._sig_base). The default chunk (8192) is larger than any test
conversation, so the multi-bucket pad machinery would otherwise be exercised
only at bench scale — these tests force a tiny chunk (4 rows at W=10, so
nearly every lead crosses a bucket boundary and pads dominate the window
input) and pin the results against the python reference oracle and against
the single-bucket plan that the oracle-backed suites already pin."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors import (
    pattern as pattern_mod,
)


def _sub(fixture_df, fixture_pdf, n=12):
    convs = sorted(fixture_pdf["conv_id"].unique())[:n]
    return (
        fixture_pdf[fixture_pdf["conv_id"].isin(convs)],
        fixture_df.filter(F.col("conv_id").isin(convs)),
    )


def _parsed(sub_df):
    from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_select import (
        parse_stage,
    )

    return parse_stage(sub_df)


def test_chunked_sequence_counts_match_oracle(spark, fixture_df, fixture_pdf,
                                              monkeypatch):
    """Ground truth: chunk=4 forces every conversation longer than 4 rows
    through the pad path (W=10 leads always span buckets); counts must equal
    the per-conversation python oracle exactly."""
    from oracle.reference_oracle import run_conv
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        sequence_counts,
    )

    sub_pdf, sub_df = _sub(fixture_df, fixture_pdf)
    want = {}
    for conv_id, g in sub_pdf.sort_values(["conv_id", "turn_idx"]).groupby(
            "conv_id"):
        res = run_conv(conv_id, list(zip(g["turn_idx"], g["text"])))
        for k, v in res.seq_counts.items():
            want[(conv_id, k)] = v

    monkeypatch.setattr(pattern_mod, "_CHUNK_ROWS", 4)
    got = sequence_counts(_parsed(sub_df)).toPandas()
    got_map = {(r["conv_id"], r["seq_sig"]): int(r["n"])
               for _, r in got.iterrows()}
    assert got_map == want


@pytest.mark.parametrize("chunk", [4, 16])
def test_chunked_matches_single_bucket_plan(spark, fixture_df, fixture_pdf,
                                            monkeypatch, chunk):
    """Self-consistency across every pattern consumer: the chunked plan must
    be row-identical to the single-bucket plan (chunk larger than any
    turn_idx reduces to the round-4 conv-partitioned semantics, which
    test_counts_parity / driver novel_grams pin against oracles)."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        novel_sequences,
        pattern_stats,
        sequence_counts,
    )

    sub_pdf, sub_df = _sub(fixture_df, fixture_pdf)
    parsed = _parsed(sub_df)

    def snapshot():
        counts = sequence_counts(parsed).toPandas().sort_values(
            ["conv_id", "seq_sig"], ignore_index=True)
        novel = novel_sequences(parsed).toPandas().sort_values(
            ["conv_id", "seq_sig"], ignore_index=True)
        stats = pattern_stats(parsed)
        st = stats["stats"].toPandas().sort_values(
            "conv_id", ignore_index=True)
        top = stats["top_patterns"].toPandas().sort_values(
            ["conv_id", "rank"], ignore_index=True)
        return counts, novel, st, top

    monkeypatch.setattr(pattern_mod, "_CHUNK_ROWS", 10**9)
    base = snapshot()
    monkeypatch.setattr(pattern_mod, "_CHUNK_ROWS", chunk)
    chunked = snapshot()
    for b, c in zip(base, chunked):
        pd.testing.assert_frame_equal(b, c)


def test_chunked_with_turn_gaps_and_empty_buckets(spark, monkeypatch):
    """Adversarial layout for the pad cover: malformed rows punch turn_idx
    gaps that empty WHOLE buckets (at chunk=4: turns 8..19 missing empties
    buckets 2..4), successors of a bucket's tail rows then span several
    non-adjacent non-empty buckets, and one conversation ends mid-bucket.
    The chunked counts must still equal the oracle's."""
    from oracle.reference_oracle import run_conv
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        sequence_counts,
    )
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    def line(i):
        lvl = "ERROR" if i % 7 == 0 else "INFO"
        src = f"svc{i % 3}"
        return (f"2024-01-01 00:{i // 60:02d}:{i % 60:02d} [{lvl}] {src}: "
                f"step {i % 5} of pipeline run")

    ts = pd.Timestamp("2024-01-01")
    rows = []
    # conv a: turns 0..7 and 20..33 (buckets 0,1 then 5..8; 2..4 empty)
    for i in [*range(0, 8), *range(20, 34)]:
        rows.append(("conv_a", i, "assistant", line(i), "none", ts))
    # conv b: sparse — one row per bucket-sized stride, 9 rows (every
    # successor lives in a different bucket)
    for j in range(9):
        rows.append(("conv_b", j * 4, "assistant", line(j), "none", ts))
    # conv c: shorter than W, single bucket
    for i in range(3):
        rows.append(("conv_c", i, "assistant", line(i), "none", ts))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])

    want = {}
    for conv_id, g in pdf.sort_values(["conv_id", "turn_idx"]).groupby(
            "conv_id"):
        res = run_conv(conv_id, list(zip(g["turn_idx"], g["text"])))
        for k, v in res.seq_counts.items():
            want[(conv_id, k)] = v

    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    monkeypatch.setattr(pattern_mod, "_CHUNK_ROWS", 4)
    got = sequence_counts(_parsed(df)).toPandas()
    got_map = {(r["conv_id"], r["seq_sig"]): int(r["n"])
               for _, r in got.iterrows()}
    assert got_map == want


def test_pattern_operators_leave_no_cache(fixture_df, persistent_rdds):
    """The pattern stage persists nothing: running pattern_anomalies and
    pattern_stats adds no entry to Spark's persistent-RDD set."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        pattern_anomalies,
        pattern_stats,
    )

    parsed = _parsed(fixture_df)
    before = persistent_rdds()
    assert pattern_anomalies(parsed).collect()
    stats = pattern_stats(parsed)
    stats["stats"].collect()
    stats["top_patterns"].collect()
    assert persistent_rdds() - before == set()


def _conv_frame(spark, conv_id, messages):
    from intelligent_log_analysis_anomaly_detection_tool_spark.schema import (
        TRANSCRIPTS_SCHEMA,
    )

    ts = pd.Timestamp("2024-01-01")
    rows = [
        (conv_id, i, "assistant",
         f"2024-01-01 00:00:{i:02d} [INFO] svc: {m}", "none", ts)
        for i, m in enumerate(messages)
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    return pdf, spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def test_cross_chunk_repeats_are_not_novel(spark, monkeypatch):
    """A W-gram and a tail gram that each occur once in two different buckets
    of one conversation: every chunk sees a local count of 1 (and emits the
    string), but the summed count is >= 2, so neither is novel."""
    from oracle.reference_oracle import run_conv
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        novel_sequences,
        sequence_counts,
    )

    x = [f"evt {k} x" for k in range(10)]  # W = 10 distinct events
    # turns 0..9 (buckets 0-2 at chunk 4), filler 10..14, turns 15..24
    # (buckets 3-6): the tail X[8:10] ends the conversation
    pdf, df = _conv_frame(spark, "conv_x", x + [f"fill {j} y" for j in range(5)] + x)
    want = run_conv("conv_x", list(zip(pdf["turn_idx"], pdf["text"]))).seq_counts

    monkeypatch.setattr(pattern_mod, "_CHUNK_ROWS", 4)
    parsed = _parsed(df)
    counts = {r["seq_sig"]: int(r["n"])
              for _, r in sequence_counts(parsed).toPandas().iterrows()}
    novel = set(novel_sequences(parsed).toPandas()["seq_sig"])

    assert counts == want
    assert novel == {s for s, n in want.items() if n == 1}
    w_gram = next(s for s in counts
                  if s.count("->") == 9 and "evt 0" in s.split("->")[0])
    tail = next(s for s in counts
                if s.count("->") == 1 and "evt 8" in s.split("->")[0])
    for sig in (w_gram, tail):
        assert counts[sig] >= 2 and sig not in novel, sig


def test_pattern_anomalies_requires_ts_parsed(spark):
    """pattern_anomalies raises on a frame without ts_parsed (its anomaly
    window would be NULL); the counting consumers do not need it."""
    from intelligent_log_analysis_anomaly_detection_tool_spark.operators.detectors.pattern import (
        novel_sequences,
        pattern_anomalies,
        sequence_counts,
    )

    _, df = _conv_frame(spark, "conv_t", [f"evt {k % 4} t" for k in range(12)])
    parsed = _parsed(df).drop("ts_parsed")
    with pytest.raises(ValueError, match="ts_parsed"):
        pattern_anomalies(parsed)
    assert sequence_counts(parsed).count() > 0
    novel_sequences(parsed).collect()
