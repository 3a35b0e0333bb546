"""Structured Streaming variant of the pipeline.

The reference is strictly offline batch (its "streaming" is a single-pass
loop; real-time support is listed under Future Improvements,
/root/reference/README.md:162-167). This module is the engine's forward path:
the SAME parse stage (mapInArrow works unchanged on streaming frames), a
watermarked per-minute windowed pivot (A1's streaming twin), and the one
genuinely stateful operator (W3 burst) as ``applyInPandasWithState`` —
per-key deque state with the reference's trim-on-emit semantics
(BurstPatternDetector.cpp:75-116).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import BurstConfig
from ..functions.parse_select import parse_stage
from ..schema import TRANSCRIPTS_SCHEMA


def read_transcript_stream(spark, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def streaming_minute_counts(stream: DataFrame,
                            watermark: str = "10 minutes") -> DataFrame:
    """A1 as a watermarked tumbling-window aggregate. Late rows beyond the
    watermark are dropped — the streaming analogue of the reference dropping
    events older than the current window (TimeWindowAnalyzer.cpp:170-171)."""
    parsed = parse_stage(stream).filter(~F.col("malformed"))
    return (
        parsed.withWatermark("ts_parsed", watermark)
        .groupBy(F.window("ts_parsed", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count_if(F.col("level_ord").isin(4, 5)).alias("errors"),
        )
        .select(F.col("w.start").alias("minute"), "total", "errors")
    )


_BURST_OUT = (
    "conv_id string, burst_key string, turn_idx int, window_start long, "
    "window_end long, score double, description string"
)
_BURST_STATE = "epochs array<long>"


def _burst_state_fn(cfg: BurstConfig):
    window_s, min_repeats = cfg.window_s, cfg.min_repeats
    keep = max(1, min_repeats // 2)

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        conv_id, burst_key = key
        (epochs,) = state.get if state.exists else ([],)
        dq = list(epochs)
        out = []
        # a group's rows may arrive as several chunks — order is only defined
        # after concatenating the whole trigger's worth for this key
        all_rows = pd.concat(list(pdfs), ignore_index=True)
        for pdf in (all_rows.sort_values("turn_idx"),):
            for turn, e in zip(pdf["turn_idx"], pdf["epoch"]):
                e = int(e)
                dq.append(e)
                lo = e - window_s
                k = 0
                while k < len(dq) and dq[k] < lo:
                    k += 1
                if k:
                    dq = dq[k:]
                c = len(dq)
                if c >= min_repeats:
                    out.append(
                        (conv_id, burst_key, int(turn), dq[0], dq[-1], float(c),
                         f"Burst repetition detected: {c} repeats within "
                         f"{window_s}s")
                    )
                    if c > min_repeats:
                        dq = dq[-keep:]
        state.update((dq,))
        if out:
            yield pd.DataFrame(
                out,
                columns=["conv_id", "burst_key", "turn_idx", "window_start",
                         "window_end", "score", "description"],
            )

    return fn


def streaming_burst(stream: DataFrame,
                    cfg: BurstConfig = BurstConfig()) -> DataFrame:
    """W3 as a stateful streaming operator: per-(conv, key) bounded deque
    state, exact trim-on-emit semantics. Correct under the engine's ordering
    contract (turn_idx arrives non-decreasing per conversation)."""
    from ..operators.detectors.burst import normalized_message

    parsed = parse_stage(stream).filter(~F.col("malformed"))
    key = F.concat_ws(
        "|", F.col("source"), F.col("level_ord").cast("string"),
        normalized_message(F.col("message")),
    )
    keyed = parsed.withColumn("burst_key", key).withColumn(
        "epoch", F.unix_timestamp("ts_parsed")
    ).select("conv_id", "burst_key", "turn_idx", "epoch")
    return keyed.groupBy("conv_id", "burst_key").applyInPandasWithState(
        _burst_state_fn(cfg),
        outputStructType=_BURST_OUT,
        stateStructType=_BURST_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
