"""Fused W1+W2 pass: SpikeDetector and StatisticalDetector share one sort.

This is the engine's only W1/W2 implementation. Both detectors key by
(conv_id, source) and order by event time (the reference walks the same
per-source deques over the same arrival order, main.cpp:283-360), so their
window columns — trailing counts, range min, prefix mean/stddev — are
computed over ONE exchanged + sorted frame. At 6.9M rows a second
(conv_id, source) WindowExec sort was worth ~5-8 s of the online-branch
wall; at 100 TB it is a full extra shuffle+sort of the parsed table.

W1 SpikeDetector (reference src/anomaly/SpikeDetector.cpp:24-85, 158-213;
defaults include/anomaly/SpikeDetector.hpp:143-146):

- per source, trailing event-time windows of 60s (short) and 600s (baseline),
  both including the current row; eviction strictly ``age > W``
- currentRate = cur/60, baselineRate = base/600, ratio = currentRate/baselineRate
- fire iff ratio > 3.0 && cur >= 5 && base >= 10
- severity = min(1, (ratio-1)/(threshold-1)) -> with ratio > 3 this is always
  1.0, so main.cpp:295-309 always maps it to Critical
- rows with empty source are skipped (SpikeDetector.cpp:32-37); since
  ``source`` is a partition key, masking the fire condition post-window is
  the same as dropping those rows pre-window
- rateOfChange is dead code (previousCount never written,
  SpikeDetector.cpp:177-180) -> ROC=0.00 constant in descriptions
- anomaly: type FrequencySpike, window [ts-60s, ts], score = ratio

W2 StatisticalDetector (reference src/anomaly/StatisticalDetector.cpp:28-77,
154-222; defaults include/anomaly/StatisticalDetector.hpp:142-150):

- rate signal per source: trailing deque of timestamps within 600s (evict
  age > 600, current row included). n < 2 -> rate = n*60/600; else
  rate = n / max(1e-6, max(1, span_sec(first,last)) / 60) with span measured
  first-to-current (the deque back IS the current row's ts)
- Welford running mean/m2 over the rate sequence, UPDATED WITH the current
  value BEFORE z is computed (StatisticalDetector.cpp:40-56); Welford over
  the prefix is algebraically identical to ``avg``/``stddev_samp`` over
  ``rowsBetween(unboundedPreceding, currentRow)``
- z = (rate - mean)/stddev_samp if count >= 10 && stddev != 0, else 0
- fire iff |z| > 3.0; severity min(1,|z|/3) -> always 1.0 -> main maps to High
- rows with empty source are kept
- anomaly: type StatisticalOutlier, window [ts, ts], score = z (signed)

Plan shape (pinned by tests/test_plan_shapes.py): exactly one Exchange
hashpartitioning(conv_id, source) and one Sort
(conv_id, source, epoch, turn_idx); the rank window orders by
(epoch, turn_idx) and the range frames by (epoch) — the single sort
satisfies both by prefix. The description pandas UDFs (printf-style
half-even rounding to match C++ iostreams) run only on fired rows (filter
first), and both anomaly variants are emitted in one pass via a
filtered-array explode — the same one-pass trick as
pattern.pattern_anomalies, so the fused branch never consumes the frame
twice.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ...config import SpikeConfig, StatisticalConfig
from .common import (
    S_CRIT, S_HIGH, S_LOW, S_MED, T_FREQ_SPIKE, T_STAT, as_anomaly,
    event_order_window, older_than_window, with_epoch,
)


def _fmt_factory(window_s: int):
    @pandas_udf("string")
    def fmt(source: pd.Series, cur: pd.Series, ratio: pd.Series) -> pd.Series:
        return pd.Series(
            [
                f"Spike detected: {s} ({int(c)} events in {window_s}s, "
                f"{r:.1f}x baseline, ROC=0.00"
                for s, c, r in zip(source, cur, ratio)
            ],
            index=source.index,
        )

    return fmt


def _fmt():
    # lazy: pandas_udf registration needs an active session (Spark 4)
    def fmt(source: pd.Series, z: pd.Series, mean: pd.Series,
            sd: pd.Series) -> pd.Series:
        return pd.Series(
            [
                f"Statistical anomaly detected (Z={zz:.2f}): {s} event rate "
                f"deviation {abs(zz):.2f}σ from mean μ={m:.1f} σ={d:.1f}"
                for s, zz, m, d in zip(source, z, mean, sd)
            ],
            index=source.index,
        )

    return pandas_udf(fmt, "string")


def spike_statistical_anomalies(
    parsed: DataFrame,
    spike_cfg: SpikeConfig = SpikeConfig(),
    stat_cfg: StatisticalConfig = StatisticalConfig(),
) -> DataFrame:
    keys = ("conv_id", "source")
    df = with_epoch(parsed.filter(~F.col("malformed")))

    w_ev = event_order_window(*keys)
    rn = F.row_number().over(w_ev)

    def older(window_s: int):
        return F.count(F.lit(1)).over(older_than_window(window_s, *keys))

    w_rng = (
        Window.partitionBy(*keys)
        .orderBy("epoch")
        .rangeBetween(-stat_cfg.rate_window_s, 0)
    )
    # window-expression layers are batched into single withColumns calls —
    # a chained withColumn re-analyzes the projection per column, which was
    # ~half the driver's plan-construction lead-in (measured round 5);
    # withColumns is one analysis round and plans identically
    df = df.withColumns({
        "rn": rn,
        "cur": rn - older(spike_cfg.short_window_s),
        "base": rn - older(spike_cfg.baseline_window_s),
        "n_rate": rn - older(stat_cfg.rate_window_s),
        "first_epoch": F.min("epoch").over(w_rng),
    })

    # --- spike ratio (SpikeDetector.cpp:158-213) and statistical rate
    # (StatisticalDetector.cpp:154-222): plain expressions over the window
    # layer, materialized together so the prefix mean/stddev can window
    # over ``rate`` next ---
    ratio = (F.col("cur") / F.lit(float(spike_cfg.short_window_s))) / (
        F.col("base") / F.lit(float(spike_cfg.baseline_window_s))
    )
    n = F.col("n_rate")
    span = F.greatest(
        F.lit(1.0), (F.col("epoch") - F.col("first_epoch")).cast("double")
    )
    rate = F.when(
        n < 2, n.cast("double") * 60.0 / float(stat_cfg.rate_window_s)
    ).otherwise(n.cast("double") / F.greatest(F.lit(1e-6), span / 60.0))
    df = df.withColumns({"ratio": ratio, "rate": rate})

    w_prefix = w_ev.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df = df.withColumns({
        "mean": F.avg("rate").over(w_prefix),
        "sd_raw": F.stddev_samp("rate").over(w_prefix),
    })
    sd = F.coalesce(
        F.when(F.col("sd_raw") > 0.0, F.col("sd_raw")), F.lit(0.0)
    )
    z = F.when(
        (F.col("rn") >= stat_cfg.warmup_count) & (sd != 0.0),
        (F.col("rate") - F.col("mean")) / sd,
    ).otherwise(F.lit(0.0))
    df = df.withColumns({"sd": sd, "z": z})

    fire_spike = (
        (F.col("source") != "")
        & (F.col("ratio") > spike_cfg.threshold)
        & (F.col("cur") >= spike_cfg.min_current)
        & (F.col("base") >= spike_cfg.min_baseline)
    )
    fire_stat = F.abs(F.col("z")) > stat_cfg.z_threshold
    df = df.withColumns(
        {"fire_spike": fire_spike, "fire_stat": fire_stat}
    ).filter(F.col("fire_spike") | F.col("fire_stat"))

    # descriptions: Arrow UDFs evaluate only on the (few) fired rows
    fmt_spike = _fmt_factory(spike_cfg.short_window_s)
    df = df.withColumns({
        "desc_spike": fmt_spike(F.col("source"), F.col("cur"), F.col("ratio")),
        "desc_stat": _fmt()(F.col("source"), F.col("z"), F.col("mean"), F.col("sd")),
    })

    sev_spike = F.least(
        F.lit(1.0), (F.col("ratio") - 1.0) / (spike_cfg.threshold - 1.0)
    )
    sev_ord_spike = (
        F.when(sev_spike >= 0.9, S_CRIT)
        .when(sev_spike >= 0.6, S_HIGH)
        .otherwise(S_MED)
    )
    sev_stat = F.least(F.lit(1.0), F.abs(F.col("z")) / stat_cfg.z_threshold)
    sev_ord_stat = (
        F.when(sev_stat >= 0.9, S_HIGH).when(sev_stat >= 0.6, S_MED).otherwise(S_LOW)
    )

    def _variant(detector, atype, sev, ws, we, score, source, desc):
        return F.struct(
            F.col("conv_id").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"),
            F.lit(detector).alias("detector"),
            F.lit(atype).cast("int").alias("anomaly_type"),
            sev.cast("int").alias("severity"),
            ws.cast("timestamp").alias("window_start"),
            we.cast("timestamp").alias("window_end"),
            score.cast("double").alias("score"),
            source.alias("source"),
            desc.alias("description"),
        )

    s_spike = F.when(
        F.col("fire_spike"),
        _variant(
            "spike",
            T_FREQ_SPIKE,
            sev_ord_spike,
            F.timestamp_seconds(F.col("epoch") - spike_cfg.short_window_s),
            F.col("ts_parsed"),
            F.col("ratio"),
            F.when(F.col("source") == "", None).otherwise(F.col("source")),
            F.col("desc_spike"),
        ),
    )
    s_stat = F.when(
        F.col("fire_stat"),
        _variant(
            "statistical",
            T_STAT,
            sev_ord_stat,
            F.col("ts_parsed"),
            F.col("ts_parsed"),
            F.col("z"),
            F.col("source"),
            F.col("desc_stat"),
        ),
    )
    # all window-derived values are materialized columns by now (window
    # exprs must not sit inside explode(filter(array(...)))); a null-filtered
    # array explode emits 1-2 anomaly rows per fired input row in one pass
    out = df.select(
        F.explode(
            F.filter(F.array(s_spike, s_stat), lambda x: x.isNotNull())
        ).alias("a")
    ).select("a.*")
    return as_anomaly(out)
