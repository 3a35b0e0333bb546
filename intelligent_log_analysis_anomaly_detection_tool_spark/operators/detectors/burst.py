"""W3 BurstPatternDetector: repeated normalized message bursts.

Reference semantics (/root/reference/src/anomaly/BurstPatternDetector.cpp:
18-116; defaults include/anomaly/BurstPatternDetector.hpp:65-67):

- key = ``source|level_int|normalized_msg`` where normalization is lowercase,
  then ``[0-9a-f]{8,}`` -> ``<id>`` (BEFORE the number rule, so 8+ digit runs
  become <id> not <n>), then ``\\b\\d+\\b`` -> ``<n>``, collapse whitespace,
  trim
- per key: trailing 60s deque (evict age > 60); after append, if count >= 20
  emit a burst (score=count, window=[first,last] of deque); then IFF
  count > 20 trim the deque to the last 10 events. Net: fires at 20, at 21
  (then trim to 10), then again each refill to 20/21 while the burst persists
- anomaly: SequenceViolation, High, desc
  "Burst repetition detected: N repeats within 60s" (main.cpp:329-343)

This trim-on-emit mutation is the one genuinely order-sensitive stateful op
in the reference — not expressible as a SQL window frame (emission changes
retained state). It lives in ONE pure function, ``burst_scan``, with two
drivers: the batch plan below and the streaming ``applyInPandasWithState``
operator (streaming/pipeline.py). Both key rows with ``burst_input`` and
describe fires with ``burst_description``.

Batch strategy: key normalization is a native regexp_replace chain (JVM,
codegen'd); the scan runs as ONE streaming pass per shuffle partition
(``mapInPandas`` over data hash-partitioned by (conv_id, burst_key) and
sorted within partitions) — NOT per-group applyInPandas, whose per-group
pandas-frame overhead dominates when there are many small groups (measured
23.7 s -> ~2 s at sf0.1 on the dense driver rendering). Retained state per
in-progress group is provably bounded: after every row the deque holds
<= min_repeats events (fire-at-m keeps the deque, fire-above-m trims to
m//2), so carrying a group across Arrow batches (or streaming triggers) is a
<= m-element list. Keys are fine-grained (source x level x normalized
message), so parallelism is high even inside hot conversations.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ...config import BurstConfig
from .common import S_HIGH, T_SEQ, as_anomaly, with_epoch

_SCAN_SCHEMA = (
    "conv_id string, turn_idx int, window_start long, window_end long, "
    "score double, source string"
)


def normalized_message(col: Column) -> Column:
    """normalizeMessage (BurstPatternDetector.cpp:18-56) as native exprs."""
    s = F.lower(col)
    s = F.regexp_replace(s, r"[0-9a-f]{8,}", "<id>")
    s = F.regexp_replace(s, r"\b\d+\b", "<n>")
    s = F.regexp_replace(s, r"\s+", " ")
    return F.trim(s)


def burst_input(parsed: DataFrame) -> DataFrame:
    """(conv_id, burst_key, turn_idx, epoch, source) of the well-formed rows.

    The key is a 64-bit hash of (source, level, normalized message), so the
    ~100-byte normalized string never travels through an exchange."""
    key = F.xxhash64(
        F.col("source"), F.col("level_ord"), normalized_message(F.col("message"))
    )
    return (
        with_epoch(parsed.filter(~F.col("malformed")))
        .withColumn("burst_key", key)
        .select("conv_id", "burst_key", "turn_idx", "epoch", "source")
    )


def burst_description(score: Column, window_s: int) -> Column:
    """"Burst repetition detected: N repeats within Ws" (main.cpp:329-343)."""
    return F.concat(
        F.lit("Burst repetition detected: "),
        score.cast("long").cast("string"),
        F.lit(f" repeats within {window_s}s"),
    )


def burst_scan(epochs, retained, window_s: int, min_repeats: int):
    """The W3 step (BurstPatternDetector.cpp:75-116) over one group's rows.

    ``epochs`` are the group's event seconds in turn order and ``retained``
    is the deque left by the group's previous rows (empty for a new group).
    Per row: append, evict the prefix older than ``window_s`` (a row exactly
    ``window_s`` old is kept), fire when the count reaches ``min_repeats``,
    and when it exceeds it trim to the last ``min_repeats // 2`` events.

    Returns ``(rows, counts, firsts, lasts, retained')``: the positions in
    ``epochs`` that fire, each fire's count and deque bounds, and the deque
    to carry into the group's next call. Scanning a sequence in two calls
    with the carried deque gives the same fires as one call."""
    keep = max(1, min_repeats // 2)
    ret = list(retained)
    rows: list[int] = []
    counts: list[int] = []
    firsts: list[int] = []
    lasts: list[int] = []
    for i, t in enumerate(epochs):
        ret.append(t)
        lo = t - window_s
        k = 0
        while ret[k] < lo:
            k += 1
        if k:
            del ret[:k]
        c = len(ret)
        if c >= min_repeats:
            rows.append(i)
            counts.append(c)
            firsts.append(ret[0])
            lasts.append(t)
            if c > min_repeats:
                del ret[:-keep]
    return rows, counts, firsts, lasts, ret


def _scan_factory(window_s: int, min_repeats: int):
    """Per-PARTITION streaming scan (mapInPandas batch iterator).

    Input batches arrive hash-partitioned by (conv_id, burst_key) and sorted
    by (conv_id, burst_key, turn_idx), so each group's rows are a contiguous
    segment — possibly spanning Arrow batches. ``burst_scan`` runs once per
    segment; the only state carried across batches is the in-progress
    group's retained deque."""

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur = None          # (conv_id, burst_key) of the in-progress group
        ret: list[int] = []  # retained epochs of the in-progress group
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            ts = pdf["epoch"].tolist()
            convs = pdf["conv_id"].to_numpy()
            keys = pdf["burst_key"].to_numpy()
            cuts = (np.flatnonzero(
                (convs[1:] != convs[:-1]) | (keys[1:] != keys[:-1])
            ) + 1).tolist()
            if (convs[0], keys[0]) != cur:
                ret = []
            fired, counts, firsts, lasts = [], [], [], []
            for lo, hi in zip([0, *cuts], [*cuts, n]):
                if lo:
                    ret = []
                rows, c, f, last, ret = burst_scan(
                    ts[lo:hi], ret, window_s, min_repeats
                )
                fired.extend(lo + r for r in rows)
                counts += c
                firsts += f
                lasts += last
            cur = (convs[-1], keys[-1])
            if fired:
                yield pd.DataFrame({
                    "conv_id": convs[fired],
                    "turn_idx": pdf["turn_idx"].to_numpy()[fired],
                    "window_start": firsts,
                    "window_end": lasts,
                    "score": np.asarray(counts, dtype=np.float64),
                    "source": pdf["source"].to_numpy()[fired],
                })

    return scan


def burst_anomalies(parsed: DataFrame, cfg: BurstConfig = BurstConfig()) -> DataFrame:
    df = burst_input(parsed)
    # Scale guard: a key with fewer than min_repeats TOTAL rows can never
    # reach min_repeats inside any 60s window, so it can never fire. The
    # cheap count-window prunes the vast majority of (conv, key) groups
    # before the python-side scan — the shuffle partitioning it introduces
    # is the same one the scan needs, so no extra exchange.
    from pyspark.sql import Window

    w_key = Window.partitionBy("conv_id", "burst_key")
    df = df.withColumn("key_n", F.count(F.lit(1)).over(w_key)).filter(
        F.col("key_n") >= cfg.min_repeats
    )
    # one streaming python pass per shuffle partition: the count-window above
    # already hash-partitioned by (conv_id, burst_key), so the repartition
    # introduces NO second exchange (plan-verified, round 4: the executed
    # plan contains exactly one Exchange hashpartitioning(conv_id, burst_key)
    # below the Window, then Sort -> MapInPandas); the sort makes groups
    # contiguous
    scanned = (
        df.repartition("conv_id", "burst_key")
        .sortWithinPartitions("conv_id", "burst_key", "turn_idx")
        .mapInPandas(
            _scan_factory(cfg.window_s, cfg.min_repeats), schema=_SCAN_SCHEMA
        )
    )
    out = scanned.select(
        "conv_id",
        "turn_idx",
        F.lit("burst").alias("detector"),
        F.lit(T_SEQ).alias("anomaly_type"),
        F.lit(S_HIGH).alias("severity"),
        F.timestamp_seconds("window_start").alias("window_start"),
        F.timestamp_seconds("window_end").alias("window_end"),
        F.col("score"),
        F.col("source"),
        burst_description(F.col("score"), cfg.window_s).alias("description"),
    )
    return as_anomaly(out)
