"""Property test: the Arrow parse kernel == the per-row oracle on
adversarial inputs (quote/backslash/colon/bracket soup, truncated JSON,
unicode, odd whitespace)."""

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from intelligent_log_analysis_anomaly_detection_tool_spark.functions.parse_arrow import (
    parse_arrays,
)
from oracle.reference_oracle import CPP_WS, parse_line

ALPHABET = (
    "abcXYZ019 \t:{}[]\"'\\,-.@#%?_"
    "é世١"  # é, 世, arabic-indic digit
)

line_st = st.one_of(
    st.text(alphabet=ALPHABET, max_size=80),
    # timestamp-ish prefixes with mutations
    st.tuples(
        st.sampled_from([
            "2025-01-01 10:00:00", "2025-01-01T10:00:00", "2025-13-45 99:99:99",
            "2025-01-0a 10:00:00", "0000-00-00 00:00:00", "2025/01/01x10.00.00",
        ]),
        st.text(alphabet=ALPHABET, max_size=60),
    ).map(lambda t: t[0] + " " + t[1]),
    # json-ish
    st.tuples(
        st.sampled_from(['{"timestamp"', '{"time"', '{"level"', "{junk"]),
        st.text(alphabet=ALPHABET, max_size=60),
    ).map(lambda t: t[0] + t[1]),
)


def _row(line):
    e, err = parse_line(line)
    if e is None:
        was_json = line.strip(CPP_WS).startswith("{")
        return (True, err, was_json, None, None, None, None)
    return (False, None, e["was_json"], e["ts"], e["level"], e["source"],
            e["message"])


@settings(max_examples=300, deadline=None)
@given(st.lists(line_st, min_size=1, max_size=20))
def test_parse_matches_oracle_fuzz(lines):
    out = parse_arrays(pa.array(lines, pa.string()))
    ts_us = out["ts_parsed"].cast(pa.int64()).to_pylist()
    got = zip(
        out["malformed"].to_pylist(), out["error"].to_pylist(),
        out["was_json"].to_pylist(),
        [None if t is None else t // 1_000_000 for t in ts_us],
        out["level_ord"].to_pylist(), out["source"].to_pylist(),
        out["message"].to_pylist(),
    )
    for line, row in zip(lines, got):
        assert row == _row(line), line
