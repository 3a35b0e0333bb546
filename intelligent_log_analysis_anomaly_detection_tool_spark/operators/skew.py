"""Skew handling (north rule: hot conversations).

Three complementary mechanisms, used in this order of preference:

1. **Key design** (free): every stateful operator partitions on a composite
   key — (conv_id, source), (conv_id, burst_key-hash), (conv_id, ip) — so a
   hot conversation splits across sub-keys naturally.
2. **Round-robin spreading** for per-row stages: per-row work (parse, n-gram
   string building) carries no key at all; ``spread_small_scan`` spreads a
   scan narrower than the core count evenly regardless of input layout.
3. **AQE** (enabled in session.py): runtime skew-join splitting and
   partition coalescing for whatever remains."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a frame whose planned scan is NARROWER than
    the session's core count (r6). A small-but-row-heavy input file (the
    5.9 MB / 50k-doc documents table is 1-2 stock 128 MB splits) serializes
    every per-row stage built on it — tokenize/md5/shingle work measured
    running on 2 of 32 cores. The spread is scale-adaptive, not a config:
    at real corpus sizes the scan already has >= defaultParallelism splits
    and this is an exact no-op; locally it costs one exchange of the tiny
    input. Row content is unchanged (round-robin repartition is
    deterministic: sort-before-repartition is on by default)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df
