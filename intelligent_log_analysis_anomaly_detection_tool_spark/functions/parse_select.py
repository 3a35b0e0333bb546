"""P1-P8 parse stage: the Arrow kernel (``parse_arrow.parse_arrays``) run per
batch under ``mapInArrow``.

Every caller — batch pipeline, concurrent DAG, checkpointed runs, streaming
and the declared queries — parses through this module. The kernel builds no
Python string objects, and the ``mapInArrow`` node is a barrier Catalyst will
not split, so the stage is evaluated once per row however many consumers
read it.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schema import PARSED_STRUCT
from .parse_arrow import parse_arrays

# Columns no batch-pipeline branch reads after the parse stage: raw ``text``
# duplicates ``message``'s content (plus the formatted prefix), raw ``ts`` is
# superseded by ``ts_parsed``, ``was_json`` is a parse diagnostic. At 1e8+
# rows the raw text alone is ~half the string bytes crossing the Arrow
# boundary back and ~half the persisted-cache footprint — which is what
# binds per-task memory at high parallelism on a fixed heap (the 111M-row
# local[8] degradation measured in bench/scaling_r5_111m_2_8.json).
PIPELINE_DROP = ("text", "ts", "was_json")


def _map_parse(df: DataFrame, text_col: str, drop: tuple[str, ...]) -> DataFrame:
    """Input columns + parsed columns, minus the ``drop`` names.

    Dropped input columns other than ``text_col`` are projected out BEFORE
    the exchange, so they never cross the Arrow boundary in either
    direction; ``text_col`` still crosses inbound (it is what gets parsed)
    but is not serialized back when listed. A projection after mapInArrow
    cannot do this — the map is a barrier Catalyst will not push a Project
    through.

    The empty-line skip (main.cpp:196-197: truly empty lines are not even
    counted) is a native filter, so the Arrow batches never carry them."""
    drop_set = set(drop)
    in_drop = [c for c in drop_set - {text_col} if c in df.columns]
    if in_drop:
        df = df.drop(*in_drop)
    out_fields = [f for f in list(df.schema.fields) + list(PARSED_STRUCT.fields)
                  if f.name not in drop_set]
    out_schema = StructType(out_fields)
    out_names = [f.name for f in out_fields]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}
            parsed = parse_arrays(cols[text_col])
            by_name = dict(cols)
            by_name.update({f.name: parsed[f.name] for f in PARSED_STRUCT.fields})
            arrays = [by_name[n] for n in out_names]
            yield pa.RecordBatch.from_arrays(
                [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
                 for a in arrays],
                names=out_names,
            )

    out = df.filter(F.length(F.col(text_col)) > 0)
    return out.mapInArrow(kernel, schema=out_schema)


def parse_stage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse ``text_col``: every input column plus the ``PARSED_STRUCT``
    columns, one row per input row whose ``text_col`` is not empty."""
    return _map_parse(df, text_col, ())


def parse_stage_pipeline(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Parse stage narrowed for the batch pipeline DAG (run_pipeline, the
    scaling/bench harnesses): same rows and values as ``parse_stage`` minus
    the ``PIPELINE_DROP`` columns, dropped inside the exchange (raw ``ts``
    never crosses in either direction; ``text`` crosses inbound only)."""
    return _map_parse(df, text_col, PIPELINE_DROP)
