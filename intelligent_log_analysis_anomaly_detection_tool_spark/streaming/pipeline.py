"""Structured Streaming variant of the pipeline.

The reference is strictly offline batch (its "streaming" is a single-pass
loop; real-time support is listed under Future Improvements,
/root/reference/README.md:162-167). This module is the engine's forward path:
the SAME parse stage (mapInArrow works unchanged on streaming frames), a
watermarked per-minute windowed pivot (A1's streaming twin), and the one
genuinely stateful operator (W3 burst) as ``applyInPandasWithState`` — the
batch detector's ``burst_scan`` step run once per trigger and key, with the
retained deque as the group state (BurstPatternDetector.cpp:75-116).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..config import BurstConfig
from ..functions.parse_select import parse_stage
from ..operators.detectors.burst import burst_description, burst_input, burst_scan
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
    "conv_id string, burst_key long, turn_idx int, window_start long, "
    "window_end long, score double"
)
_BURST_STATE = "epochs array<long>"


def _burst_state_fn(cfg: BurstConfig):
    window_s, min_repeats = cfg.window_s, cfg.min_repeats

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        conv_id, burst_key = key
        (epochs,) = state.get if state.exists else ([],)
        # a group's rows may arrive as several chunks — order is only defined
        # after concatenating the whole trigger's worth for this key
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("turn_idx")
        fired, counts, firsts, lasts, kept = burst_scan(
            rows["epoch"].tolist(), epochs, window_s, min_repeats
        )
        state.update((kept,))
        if fired:
            yield pd.DataFrame({
                "conv_id": conv_id,
                "burst_key": burst_key,
                "turn_idx": rows["turn_idx"].to_numpy()[fired],
                "window_start": firsts,
                "window_end": lasts,
                "score": np.asarray(counts, dtype=np.float64),
            })

    return fn


def streaming_burst(stream: DataFrame,
                    cfg: BurstConfig = BurstConfig()) -> DataFrame:
    """W3 as a stateful streaming operator: per-(conv, key) bounded deque
    state carried across triggers, the batch detector's key, scan step and
    description. Correct under the engine's ordering contract (turn_idx
    arrives non-decreasing per conversation)."""
    keyed = burst_input(parse_stage(stream)).drop("source")
    scanned = keyed.groupBy("conv_id", "burst_key").applyInPandasWithState(
        _burst_state_fn(cfg),
        outputStructType=_BURST_OUT,
        stateStructType=_BURST_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return scanned.withColumn(
        "description", burst_description(F.col("score"), cfg.window_s)
    )
