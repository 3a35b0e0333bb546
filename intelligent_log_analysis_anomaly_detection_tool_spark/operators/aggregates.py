"""A1-A4: per-minute pivot, per-level stats, per-source stats, global totals.

Reference: the MinuteStats map in main.cpp:178-252 (bucket = (epoch/60)*60,
one count column per level, plus anomalies + malformed counters) and the
Report accumulators (include/core/Report.hpp:170-218).

Attribution rules preserved:
- a malformed line increments the bucket of the LAST PREVIOUSLY PARSED entry
  (main.cpp:204-206 uses lastBucket; the reference falls back to wall-clock
  "now" when nothing parsed yet — nondeterministic, so this engine attributes
  those rows to a NULL minute instead; documented divergence)
- the per-minute ``anomalies`` column counts ONLINE detector fires in the
  triggering entry's bucket (main.cpp:291-359), read as minute(window_end):
  every online row stamps that entry's timestamp there; offline anomalies
  (NULL turn_idx) and parser rows (NULL window) are never attributed
- level stats' anomalyCount is bumped only for rule-based anomalies
  (main.cpp:286-288), which never fire in faithful mode -> always 0
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..schema import LEVELS

LEVEL_KEYS = [lv.lower() for lv in LEVELS]

# bounded chunk for with_minute's prefix-scan decomposition (tests shrink it
# to force the multi-chunk carry path)
_MINUTE_CHUNK_ROWS = 8192


def with_minute(parsed: DataFrame) -> DataFrame:
    """Minute bucket per row; malformed rows inherit the last parsed bucket
    earlier in the same conversation (NULL if none yet).

    The running last-non-null is a prefix scan, decomposed so a hot
    conversation (~10% of all rows in one conv_id in the bench corpus)
    never serializes into a single window task (round 5 — same skew fix as
    the pattern stage's chunked base): a local scan inside bounded chunks of
    C rows partitioned by (conv_id, turn_idx // C), plus a carry-in per
    chunk = the last parsed minute of all EARLIER chunks, computed from a
    per-chunk map-combined aggregate (~rows/C output) and joined back on the
    chunk key. The join key equals the window's partitioning, so at scale it
    co-partitions with the exchange the window already pays; at small scale
    AQE broadcasts the tiny carry side."""
    C = _MINUTE_CHUNK_ROWS
    own = F.when(
        ~F.col("malformed"), F.date_trunc("minute", F.col("ts_parsed"))
    )
    df = parsed.withColumn("_own", own).withColumn(
        "_mb", F.floor(F.col("turn_idx") / C).cast("long")
    )
    w_loc = (
        Window.partitionBy("conv_id", "_mb")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # last parsed minute per chunk: max of (turn_idx, own) structs ignores
    # the NULL-own rows and picks the latest-by-turn value — portable
    # last-non-null as an aggregate, so the full-row pass map-combines
    blast = df.groupBy("conv_id", "_mb").agg(
        F.max(
            F.when(
                F.col("_own").isNotNull(),
                F.struct(F.col("turn_idx"), F.col("_own").alias("v")),
            )
        ).alias("_s")
    ).select("conv_id", "_mb", F.col("_s.v").alias("_bl"))
    w_prev = (
        Window.partitionBy("conv_id")
        .orderBy("_mb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carries = blast.select(
        "conv_id", "_mb", F.last("_bl", ignorenulls=True).over(w_prev).alias("_carry")
    )
    # window BEFORE the join: the window's own ENSURE_REQUIREMENTS exchange
    # hashes on BOTH (conv_id, _mb); joining first lets the planner satisfy
    # join + window with ONE conv_id-only exchange (subset co-partitioning),
    # which puts the whole hot conversation back into a single partition —
    # the exact straggler this decomposition removes (plan-probed)
    local = df.withColumn("_loc", F.last("_own", ignorenulls=True).over(w_loc))
    return (
        local.join(carries, ["conv_id", "_mb"])
        .withColumn("minute", F.coalesce(F.col("_loc"), F.col("_carry")))
        .drop("_own", "_mb", "_carry", "_loc")
    )


def minute_stats(parsed: DataFrame, anomalies: DataFrame | None = None) -> DataFrame:
    """A1 per-minute level pivot (+ malformed, + online anomaly counts).
    Fires count in minute(window_end), with no join back to ``parsed``; only
    online fires pass the filter, so the online union and the whole anomaly
    union give the same pivot."""
    aggs = [
        F.count_if(~F.col("malformed")).alias("total"),
        *[
            F.count_if((~F.col("malformed")) & (F.col("level_ord") == i)).alias(k)
            for i, k in enumerate(LEVEL_KEYS)
        ],
        F.count_if(F.col("malformed")).alias("malformed"),
    ]
    base = with_minute(parsed).groupBy("minute").agg(*aggs)

    if anomalies is not None:
        per_minute = (
            anomalies.filter(F.col("turn_idx").isNotNull() & F.col("window_end").isNotNull())
            .groupBy(F.date_trunc("minute", F.col("window_end")).alias("minute"))
            .agg(F.count(F.lit(1)).alias("anomalies"))
        )
        base = base.join(per_minute, "minute", "left").withColumn(
            "anomalies", F.coalesce(F.col("anomalies"), F.lit(0))
        )
    else:
        base = base.withColumn("anomalies", F.lit(0))

    return base.select(
        "minute", "total", *LEVEL_KEYS, "anomalies", "malformed"
    )


def level_stats(parsed: DataFrame) -> DataFrame:
    """A2: count per LogLevel (anomaly_count = rule fires = 0 in faithful mode)."""
    return (
        parsed.filter(~F.col("malformed"))
        .groupBy("level_ord")
        .agg(F.count(F.lit(1)).alias("n"), F.lit(0).alias("anomaly_count"))
    )


def source_stats(parsed: DataFrame) -> DataFrame:
    """A3: totalEvents / errorEvents(Error+Critical) / warningEvents(Warn)
    per source (include/core/Report.hpp:205-218)."""
    return (
        parsed.filter(~F.col("malformed"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_events"),
            F.count_if(F.col("level_ord").isin(4, 5)).alias("error_events"),
            F.count_if(F.col("level_ord") == 3).alias("warning_events"),
        )
    )


def totals(source_stats_df: DataFrame) -> DataFrame:
    """A4: global error/warning totals (include/core/Report.hpp:227-248)."""
    return source_stats_df.agg(
        F.sum("total_events").alias("total_events"),
        F.sum("error_events").alias("total_errors"),
        F.sum("warning_events").alias("total_warnings"),
    )
