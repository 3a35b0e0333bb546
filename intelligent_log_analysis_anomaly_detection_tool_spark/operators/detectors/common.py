"""Shared pieces for the window-based detectors.

All detectors assume the engine's stable total order: within a conversation
rows are ordered by ``turn_idx`` and ``ts_parsed`` is non-decreasing (the
reference's deque eviction logic assumes the same monotonicity of its input
file, e.g. /root/reference/src/anomaly/SpikeDetector.cpp:55-67).

Trailing event-time counts use the identity (valid under monotonic ts):

    |{j <= i : ts_j >= ts_i - W}|  =  row_number_i - |{j : ts_j < ts_i - W}|

i.e. an (epoch, turn_idx) rank (``event_order_window``) minus a
``rangeBetween(unboundedPreceding, -(W+1))`` count (``older_than_window``).
This matches the reference's "evict age > W" semantics exactly
(rows exactly W old are KEPT) and, unlike a naive ``rangeBetween(-W, 0)``
count, does not leak later same-timestamp rows into the current row's window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from ...schema import ANOMALY_COLS

# anomaly enum ordinals (include/core/Anomaly.hpp:28-50)
T_FREQ_SPIKE, T_RARE, T_STAT, T_SEQ, T_SILENCE, T_OTHER = range(6)
S_LOW, S_MED, S_HIGH, S_CRIT = range(4)


def with_epoch(df: DataFrame, ts_col: str = "ts_parsed") -> DataFrame:
    return df.withColumn("epoch", F.unix_timestamp(F.col(ts_col)))


def conv_time_range(parsed: DataFrame) -> DataFrame:
    """(conv_id, min_ts, max_ts) over the non-malformed rows: the
    [minTs, maxTs] window the frequency and pattern anomalies carry."""
    return (
        parsed.filter(~F.col("malformed"))
        .groupBy("conv_id")
        .agg(F.min("ts_parsed").alias("min_ts"), F.max("ts_parsed").alias("max_ts"))
    )


def event_order_window(*part_cols: str) -> WindowSpec:
    """(epoch, turn_idx)-ordered rank/prefix window.

    Identical to a turn_idx-ordered window under the engine's documented
    per-conversation ts-monotonicity invariant (turn_idx breaks epoch ties
    deterministically, and turn_idx order == (epoch, turn_idx) order when
    epoch is non-decreasing in turn_idx). The point of using it instead:
    every rank/prefix window then shares ONE physical sort with the
    epoch-ordered range frames — a sort on (keys, epoch, turn_idx) satisfies
    a required ordering of (keys, epoch) by prefix — so a detector's whole
    window stack plans as a single Exchange + a single Sort."""
    return Window.partitionBy(*part_cols).orderBy("epoch", "turn_idx")


def older_than_window(window_s: int, *part_cols: str) -> WindowSpec:
    """Frame counting rows with epoch < current - window_s (evicted rows)."""
    return (
        Window.partitionBy(*part_cols)
        .orderBy("epoch")
        .rangeBetween(Window.unboundedPreceding, -(window_s + 1))
    )


def trailing_count(window_s: int, *part_cols: str) -> Column:
    """Count of retained rows in the trailing event-time window (inclusive).

    Rank is by (epoch, turn_idx) and eviction by epoch, so the
    rank-minus-evicted identity holds even when timestamps arrive out of
    file order. Used by the THRESHOLD rule, an explicit event-time
    respecification (enrich.rule_matches)."""
    rn = F.row_number().over(event_order_window(*part_cols))
    older = F.count(F.lit(1)).over(older_than_window(window_s, *part_cols))
    return rn - older


def as_anomaly(df: DataFrame) -> DataFrame:
    """Project to the canonical anomaly schema/column order."""
    return df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "detector",
        F.col("anomaly_type").cast("int").alias("anomaly_type"),
        F.col("severity").cast("int").alias("severity"),
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        F.col("score").cast("double").alias("score"),
        "source",
        "description",
    )


assert ANOMALY_COLS == [
    "conv_id", "turn_idx", "detector", "anomaly_type", "severity",
    "window_start", "window_end", "score", "source", "description",
]
