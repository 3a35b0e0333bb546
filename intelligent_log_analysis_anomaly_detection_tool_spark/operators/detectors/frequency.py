"""A5-A8 FrequencyAnalyzer: counts, top-N, source moving-average spike, rare
message hashes — offline (whole-conversation) aggregates.

Reference semantics (/root/reference/src/analysis/FrequencyAnalyzer.cpp):

- hashMessage (:164-182): first 3 whitespace-tokens (istream >> skips runs of
  whitespace) uppercased, space-joined; no tokens -> "EMPTY"
- per-source moving average (:197-212): history of the last 10 snapshots of
  the CUMULATIVE per-source count, pushed on every event of that source; the
  final average over prefix counts [n-9..n] is (n-4.5) for n>=10 — so the
  "source spike" condition count > 3*avg is mathematically unreachable with
  default thresholds (as is its n<10 branch). We still evaluate the general
  predicate so non-default configs behave.
- rare hash (:117-129): hash count < 2 -> one anomaly string each
- anomalies wrap as (FrequencySpike, Medium, [minTs, maxTs], 1.0, no source)
  at main.cpp:371-381

The ratio in the spike description uses C++ default ostream formatting
(6 significant digits, %g-style) — matched with Python ``:.6g`` in a pandas
UDF; Java's ``%g`` keeps trailing zeros so format_string would diverge.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ...config import FrequencyConfig
from .common import S_MED, T_FREQ_SPIKE, as_anomaly, conv_time_range


def message_hash(col: Column, k: int = 3) -> Column:
    """hashMessage as native exprs (split on whitespace runs, drop empties)."""
    toks = F.filter(F.split(col, r"\s+"), lambda x: x != "")
    joined = F.upper(F.array_join(F.slice(toks, 1, k), " "))
    return F.when(F.size(toks) == 0, "EMPTY").otherwise(joined)


def _fmt_spike():
    # lazy: pandas_udf registration needs an active session (Spark 4)
    def fmt(source: pd.Series, count: pd.Series, avg: pd.Series) -> pd.Series:
        return pd.Series(
            [f"Source '{s}' spike: {int(c)} events ({c / a:.6g}x average)"
             for s, c, a in zip(source, count, avg)],
            index=source.index,
        )

    return pandas_udf(fmt, "string")


def frequency_anomalies(
    parsed: DataFrame, cfg: FrequencyConfig = FrequencyConfig()
) -> DataFrame:
    df = parsed.filter(~F.col("malformed"))
    rng = conv_time_range(parsed)

    # A7 source moving-average spike: avg of the last `history` prefix counts
    # evaluated at the source's final event. Prefix counts are 1..n, so the
    # average is a closed form of n — no window function needed at all.
    per_source = df.groupBy("conv_id", "source").agg(F.count(F.lit(1)).alias("n"))
    h = cfg.moving_avg_history
    avg = F.when(
        F.col("n") >= h, F.col("n") - (h - 1) / 2.0
    ).otherwise((F.col("n") + 1) / 2.0)
    spikes = (
        per_source.withColumn("avg", avg)
        .filter((F.col("avg") > 0.0) & (F.col("n") > F.col("avg") * cfg.spike_multiplier))
        .join(F.broadcast(rng), "conv_id")
        .select(
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.lit("frequency").alias("detector"),
            F.lit(T_FREQ_SPIKE).alias("anomaly_type"),
            F.lit(S_MED).alias("severity"),
            F.col("min_ts").alias("window_start"),
            F.col("max_ts").alias("window_end"),
            F.lit(1.0).alias("score"),
            F.lit(None).cast("string").alias("source"),
            _fmt_spike()(F.col("source"), F.col("n"), F.col("avg")).alias("description"),
        )
    )

    # A8 rare message hashes
    rare = (
        df.withColumn("msg_hash", message_hash(F.col("message"), cfg.message_hash_length))
        .groupBy("conv_id", "msg_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < cfg.min_occurrences)
        .join(F.broadcast(rng), "conv_id")
        .select(
            "conv_id",
            F.lit(None).cast("int").alias("turn_idx"),
            F.lit("frequency").alias("detector"),
            F.lit(T_FREQ_SPIKE).alias("anomaly_type"),
            F.lit(S_MED).alias("severity"),
            F.col("min_ts").alias("window_start"),
            F.col("max_ts").alias("window_end"),
            F.lit(1.0).alias("score"),
            F.lit(None).cast("string").alias("source"),
            F.concat(
                F.lit("Rare message pattern '"),
                F.col("msg_hash"),
                F.lit("': only "),
                F.col("n").cast("string"),
                F.lit(" occurrences"),
            ).alias("description"),
        )
    )
    return as_anomaly(spikes.unionByName(rare))


def frequency_stats(parsed: DataFrame, cfg: FrequencyConfig = FrequencyConfig()):
    """A5/A6: per-source / per-level / per-hash counts + global top-N tables."""
    df = parsed.filter(~F.col("malformed"))
    by_source = df.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    by_level = df.groupBy("level_ord").agg(F.count(F.lit(1)).alias("n"))
    by_hash = (
        df.withColumn("msg_hash", message_hash(F.col("message"), cfg.message_hash_length))
        .groupBy("msg_hash")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top_sources = by_source.orderBy(F.desc("n"), "source").limit(cfg.top_n)
    top_hashes = by_hash.orderBy(F.desc("n"), "msg_hash").limit(cfg.top_n)
    return dict(
        by_source=by_source,
        by_level=by_level,
        by_hash=by_hash,
        top_sources=top_sources,
        top_hashes=top_hashes,
    )
