"""P1-P8: the parse kernel, the reference parser over pyarrow arrays.

``parse_arrays`` reproduces ``LogParser::parseLineDetailed``
(LogParser.cpp:57-98) over a whole text column with ``pyarrow.compute``; no
Python string object is ever materialized. ``parse_select.parse_stage`` runs
it once per Arrow batch under ``mapInArrow``. The per-row reference it is
tested against is ``oracle.reference_oracle.parse_line``.

- trim; empty -> malformed "Empty line" (LogParser.cpp:61-67)
- '{' prefix -> hand-rolled JSON scan with alias keys (LogParser.cpp:152-229)
- else heuristic plain parse (LogParser.cpp:125-147):
    * timestamp: first 19 chars, digits at fixed offsets, separators UNCHECKED
      (TimeUtils.cpp:73-112 checks only the six numeric fields)
    * level: ordered substring search over the UPPERCASED WHOLE LINE —
      TRACE,DEBUG,INFO,WARN,WARNING,ERROR,FATAL,CRITICAL; first hit wins
      (LogParser.cpp:306-338). A line containing both INFO and ERROR is Info.
    * source: first ':'-prefix without spaces, else first '[...]' content —
      for plain ``ts [LEVEL] svc - msg`` lines this captures the LEVEL token
      (quirk, LogParser.cpp:340-366)
    * message: drop first 20 chars, trim, split on single spaces keeping
      empties, join tokens[2:] with single spaces == substring after the 2nd
      space (LogParser.cpp:368-399)
- malformed taxonomy: "Empty line" / "No matching pattern" /
  "JSON missing required fields: ..." / "Invalid timestamp format"
  (LogParser.cpp:65,96,171-178,214)

All regexes are RE2 (pyarrow) — every pattern used here is RE2-safe (no
backrefs in patterns; ``\\1`` appears only in replacements, which RE2
supports). Timestamp parsing uses strptime on a re-rendered canonical string
built from the six digit fields, preserving the reference's
"digits at fixed offsets, separators unchecked" rule.

Documented divergences from the reference, shared with the oracle unless
noted:

- the reference routes timestamps through ``mktime`` (localtime + field
  normalization, e.g. month 13 wraps). UTC is pinned and impossible dates
  are parse failures; fixtures avoid such lines.
- the level scan upper-cases with ``utf8_upper``, one code point to one
  code point; the oracle's ``str.upper`` applies full case mapping, which
  expands ligatures (e.g. U+FB01 -> "FI"). Level tokens are ASCII; the
  edge, fixture and fuzz suites cover the realistic alphabet.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

CPP_WS = " \t\n\v\f\r"
_WS_CLS = r"[ \t\n\v\f\r]*"

_TS_RE = (
    r"^(?P<y>[0-9]{4}).(?P<mo>[0-9]{2}).(?P<d>[0-9]{2})"
    r".(?P<h>[0-9]{2}).(?P<mi>[0-9]{2}).(?P<s>[0-9]{2})"
)

PLAIN_LEVELS = [
    ("TRACE", 0), ("DEBUG", 1), ("INFO", 2), ("WARN", 3),
    ("WARNING", 3), ("ERROR", 4), ("FATAL", 5), ("CRITICAL", 5),
]
JSON_LEVELS = [
    ("TRACE", 0), ("DEBUG", 1), ("INFO", 2), ("WARN", 3),
    ("ERROR", 4), ("CRIT", 5), ("FATAL", 5),
]


def _extract(arr, pattern: str, group: str):
    st = pc.extract_regex(arr, pattern)
    return pc.struct_field(st, group)


def _parse_ts19(s):
    """Six digit fields at fixed offsets of the first 19 chars, separators
    unchecked; strptime on a canonical re-render validates real dates."""
    head = pc.utf8_slice_codeunits(s, 0, 19)
    ok_len = pc.greater_equal(pc.utf8_length(s), 19)
    g = pc.extract_regex(head, _TS_RE)
    canon = pc.binary_join_element_wise(
        pc.struct_field(g, "y"), pc.cast(pa.scalar("-"), pa.string()),
        pc.struct_field(g, "mo"), "-", pc.struct_field(g, "d"), " ",
        pc.struct_field(g, "h"), ":", pc.struct_field(g, "mi"), ":",
        pc.struct_field(g, "s"), "",
    )
    ts = pc.strptime(canon, format="%Y-%m-%d %H:%M:%S", unit="us",
                     error_is_null=True)
    return pc.if_else(ok_len, ts, pa.scalar(None, pa.timestamp("us")))


def _level_scan(upper, table):
    """First token in TABLE ORDER found as a substring wins; 6 when none
    match. Probes cascade: token k+1 is only searched over rows no earlier
    token matched (identical result to the full if_else chain — first-hit
    priority is table order either way)."""
    if isinstance(upper, pa.ChunkedArray):
        upper = upper.combine_chunks()
    n = len(upper)
    out = np.full(n, 6, dtype=np.int32)
    idx = np.arange(n, dtype=np.int64)
    rest = upper
    for tok, ordv in table:
        hit = pc.fill_null(pc.match_substring(rest, tok), False).to_numpy(
            zero_copy_only=False
        )
        out[idx[hit]] = ordv
        miss = ~hit
        idx = idx[miss]
        if len(idx) == 0:
            break
        rest = rest.take(pa.array(np.flatnonzero(miss)))
    return pa.array(out, type=pa.int32())


def _json_value(t, key: str):
    """extractJsonRaw semantics (LogParser.cpp:238-281) in RE2: find
    ``"key"`` anywhere, first ':' after it, skip ws; quoted -> unescape
    ``\\x -> x``; unquoted -> read to ','/'}' and trim; null when the key
    or colon is absent, or only whitespace follows the colon.

    Probe order is lazy but result-identical to the original
    quoted/raw/dead full-column plan: the raw-value scan runs only over
    rows the quoted scan left null, and the dead-key check (key present
    with nothing after the colon) only over rows that resolved a value —
    on a null row ``if_else(dead, null, null)`` is null either way."""
    if isinstance(t, pa.ChunkedArray):
        t = t.combine_chunks()
    n = len(t)
    prefix = f'"{key}"[^:]*:{_WS_CLS}'
    quoted = _extract(t, prefix + r'"(?P<v>(?:\\.|[^"\\])*)"', "v")
    if isinstance(quoted, pa.ChunkedArray):
        quoted = quoted.combine_chunks()
    out = pc.replace_substring_regex(quoted, r"\\(.)", r"\1")
    qnull = np.flatnonzero(pc.is_null(out).to_numpy(zero_copy_only=False))
    if len(qnull):
        raw = _extract(t.take(pa.array(qnull)), prefix + r"(?P<v>[^,}]*)", "v")
        raw = pc.utf8_trim(raw, CPP_WS)
        if isinstance(raw, pa.ChunkedArray):
            raw = raw.combine_chunks()
        mapping = np.arange(n, dtype=np.int64)
        mapping[qnull] = n + np.arange(len(qnull), dtype=np.int64)
        out = pa.concat_arrays([out, raw]).take(pa.array(mapping))
    valid = np.flatnonzero(pc.is_valid(out).to_numpy(zero_copy_only=False))
    if len(valid):
        dead = pc.fill_null(
            pc.match_substring_regex(t.take(pa.array(valid)), prefix + r"$"),
            False,
        ).to_numpy(zero_copy_only=False)
        kill = valid[dead]
        if len(kill):
            mapping = np.arange(n, dtype=np.int64)
            mapping[kill] = n
            out = pa.concat_arrays([out, pa.nulls(1, pa.string())]).take(
                pa.array(mapping)
            )
    return out


def _mask_concat(cond, then_str: str):
    return pc.if_else(cond, pa.scalar(then_str), pa.scalar(""))


def _scatter(n: int, typ: pa.DataType, parts) -> pa.Array:
    """Assemble a full-length array from disjoint row subsets.

    ``parts`` is a list of ``(indices, values)`` where ``indices`` is the
    np.ndarray of destination rows and ``values`` is either a pa.Array of
    ``len(indices)`` subset results or a python scalar repeated across the
    subset. Rows covered by no part come out null. One gather (``take``)
    over the concatenated parts builds the result — this is what lets each
    parse path run its regex kernels over only its own rows."""
    arrays: list[pa.Array] = []
    segs: list[tuple[np.ndarray, int, bool]] = []
    total = 0
    for idx, val in parts:
        if isinstance(val, pa.ChunkedArray):
            val = val.combine_chunks()
        if isinstance(val, pa.Array):
            if val.type != typ:
                val = val.cast(typ)
            segs.append((idx, total, False))
            arrays.append(val)
            total += len(val)
        else:
            segs.append((idx, total, True))
            arrays.append(pa.array([val], type=typ))
            total += 1
    arrays.append(pa.nulls(1, typ))
    mapping = np.full(n, total, dtype=np.int64)
    for idx, off, is_const in segs:
        if len(idx):
            mapping[idx] = (
                off if is_const else off + np.arange(len(idx), dtype=np.int64)
            )
    return pa.concat_arrays(arrays).take(pa.array(mapping))


def _parse_plain(tp: pa.Array) -> dict:
    """P2-P4 plain-format fields for the plain-row subset only."""
    null_s = pa.scalar(None, pa.string())
    ts_plain = _parse_ts19(tp)
    lvl_plain = _level_scan(pc.utf8_upper(tp), PLAIN_LEVELS)
    pre = _extract(tp, r"^(?P<v>[^:]*):", "v")
    pre_r = pc.utf8_rtrim(pc.fill_null(pre, ""), CPP_WS)
    ok1 = pc.and_(pc.is_valid(pre), pc.invert(pc.match_substring(pre_r, " ")))
    bracket = _extract(tp, r"\[(?P<v>[^\]]*)\]", "v")
    src_plain = pc.coalesce(
        pc.if_else(ok1, pre_r, null_s), bracket, pa.scalar("unknown")
    )
    rem = pc.if_else(
        pc.less_equal(pc.utf8_length(tp), 20), tp,
        pc.utf8_slice_codeunits(tp, 20, 2**30),
    )
    rem = pc.utf8_trim(rem, CPP_WS)
    msg_plain = _extract(rem, r"^[^ ]* [^ ]* (?P<v>.*)$", "v")
    ok = pc.and_(
        pc.is_valid(ts_plain),
        pc.and_(pc.is_valid(msg_plain),
                pc.greater(pc.utf8_length(pc.fill_null(msg_plain, "")), 0)),
    )
    return {
        "ok": ok,
        "error": pc.if_else(ok, null_s, pa.scalar("No matching pattern")),
        "ts": pc.if_else(ok, ts_plain, pa.scalar(None, pa.timestamp("us"))),
        "level": pc.if_else(ok, lvl_plain, pa.scalar(None, pa.int32())),
        "source": pc.if_else(ok, src_plain, null_s),
        "message": pc.if_else(ok, msg_plain, null_s),
    }


def _json_cascade(tj: pa.Array, keys: tuple) -> pa.Array:
    """coalesce(_json_value(tj, k) for k in keys), computed lazily: each
    fallback key's 4-regex probe runs over only the rows every earlier key
    left null (exact coalesce semantics — first non-null wins)."""
    if isinstance(tj, pa.ChunkedArray):
        tj = tj.combine_chunks()
    out = _json_value(tj, keys[0])
    if isinstance(out, pa.ChunkedArray):
        out = out.combine_chunks()
    n = len(tj)
    for key in keys[1:]:
        idx = np.flatnonzero(pc.is_null(out).to_numpy(zero_copy_only=False))
        if len(idx) == 0:
            break
        sub = _json_value(tj.take(pa.array(idx)), key)
        if isinstance(sub, pa.ChunkedArray):
            sub = sub.combine_chunks()
        mapping = np.arange(n, dtype=np.int64)
        mapping[idx] = n + np.arange(len(idx), dtype=np.int64)
        out = pa.concat_arrays([out, sub]).take(pa.array(mapping))
    return out


def _parse_json(tj: pa.Array) -> dict:
    """P5-P8 JSON-scanner fields for the JSON-row subset only."""
    null_s = pa.scalar(None, pa.string())
    ts_raw = _json_cascade(tj, ("timestamp", "time", "@timestamp"))
    lvl_raw = _json_cascade(tj, ("level", "severity"))
    msg_raw = _json_cascade(tj, ("message", "msg"))
    src_raw = _json_cascade(tj, ("service", "component", "source"))
    missing = pc.or_(
        pc.is_null(ts_raw), pc.or_(pc.is_null(lvl_raw), pc.is_null(msg_raw))
    )
    ts_json = _parse_ts19(pc.fill_null(ts_raw, ""))
    lvl_json = _level_scan(pc.utf8_upper(pc.fill_null(lvl_raw, "")), JSON_LEVELS)
    src_json = pc.coalesce(src_raw, pa.scalar("unknown"))
    ok = pc.and_(pc.invert(missing), pc.is_valid(ts_json))
    miss_err = pc.binary_join_element_wise(
        pa.scalar("JSON missing required fields:"),
        _mask_concat(pc.is_null(ts_raw), " timestamp"),
        _mask_concat(pc.is_null(lvl_raw), " level"),
        _mask_concat(pc.is_null(msg_raw), " message"),
        "",
    )
    json_err = pc.if_else(missing, miss_err, pa.scalar("Invalid timestamp format"))
    return {
        "ok": ok,
        "error": pc.if_else(ok, null_s, json_err),
        "ts": pc.if_else(ok, ts_json, pa.scalar(None, pa.timestamp("us"))),
        "level": pc.if_else(ok, lvl_json, pa.scalar(None, pa.int32())),
        "source": pc.if_else(ok, src_json, null_s),
        "message": pc.if_else(ok, msg_raw, null_s),
    }


def parse_arrays(text: pa.Array) -> dict:
    """Parse a text column; returns dict of arrays for the parsed struct.

    Each format's kernel chain (the JSON scanner is ~4 regex passes per
    probed key; the plain path ~12 passes) runs over ONLY the rows of its
    format: rows are routed by the cheap shape test, each subset is parsed
    densely, and one gather per output column reassembles row order
    (``_scatter``). On the mixed corpus (~35% JSON / ~50% plain) this
    removes roughly half the regex work of the former full-column
    compute-then-mask plan — same semantics, pinned by the oracle-parity
    edge/fixture/fuzz suites."""
    if isinstance(text, pa.ChunkedArray):
        text = text.combine_chunks()
    n = len(text)
    t = pc.utf8_trim(pc.fill_null(text, ""), CPP_WS)
    empty = pc.equal(pc.utf8_length(t), 0)
    starts = pc.starts_with(t, "{")
    was_json = pc.and_(pc.invert(empty), starts)
    plain = pc.and_(pc.invert(empty), pc.invert(starts))

    ji = np.flatnonzero(was_json.to_numpy(zero_copy_only=False))
    pi = np.flatnonzero(plain.to_numpy(zero_copy_only=False))
    ei = np.flatnonzero(empty.to_numpy(zero_copy_only=False))

    j = _parse_json(t.filter(was_json))
    p = _parse_plain(t.filter(plain))

    malformed = np.ones(n, dtype=bool)
    malformed[ji] = pc.invert(j["ok"]).to_numpy(zero_copy_only=False)
    malformed[pi] = pc.invert(p["ok"]).to_numpy(zero_copy_only=False)

    return {
        "malformed": pa.array(malformed, type=pa.bool_()),
        "error": _scatter(n, pa.string(), [
            (ji, j["error"]), (pi, p["error"]), (ei, "Empty line"),
        ]),
        "was_json": pc.cast(was_json, pa.bool_()),
        "ts_parsed": _scatter(n, pa.timestamp("us"), [
            (ji, j["ts"]), (pi, p["ts"]),
        ]),
        "level_ord": _scatter(n, pa.int32(), [
            (ji, j["level"]), (pi, p["level"]),
        ]),
        "source": _scatter(n, pa.string(), [
            (ji, j["source"]), (pi, p["source"]),
        ]),
        "message": _scatter(n, pa.string(), [
            (ji, j["message"]), (pi, p["message"]),
        ]),
    }

