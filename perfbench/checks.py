"""Output checks, run untimed after the measured passes.

- Pipeline outputs (the concurrent DAG, the traced layers and the resumable
  job) are compared with ``oracle.reference_oracle.run_table`` on the same
  transcripts: parsed and malformed counts, anomaly counts per detector and
  severity, the per-minute column sums and, for the resumable job, every
  committed manifest's lineage.
- Query outputs are compared with the DuckDB ``oracle_sql()`` of the entry
  module over the same parquet files, order-insensitively, as the entry
  contract test does.

A mismatch is reported as a failed operation, never raised.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter

# DAG leaf -> the detectors whose rows it produces
LEAF_DETECTORS = {
    "online_minutes": ("parser", "spike", "statistical", "burst", "rare_ip"),
    "frequency": ("frequency",),
    "pattern": ("pattern",),
    "timewindow": ("timewindow",),
}
MINUTE_COLS = ("total", "trace", "debug", "info", "warn", "error", "critical",
               "unknown", "anomalies", "malformed")


def pipeline_expectation(input_dir: str) -> dict:
    """Oracle summary of the input's transcripts, cached next to them."""
    path = os.path.join(input_dir, "expected_pipeline.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    import pyarrow.parquet as pq

    from oracle.reference_oracle import run_table

    pdf = pq.read_table(os.path.join(input_dir, "transcripts"),
                        columns=["conv_id", "turn_idx", "text"]).to_pandas()
    res = run_table(pdf)
    parsed, an, minutes = res["parsed"], res["anomalies"], res["minutes"]
    conv_det: dict[str, Counter] = {}
    for (conv, det), n in an.groupby(["conv_id", "detector"]).size().items():
        conv_det.setdefault(conv, Counter())[det] = int(n)
    exp = {
        "rows": int(len(pdf)),
        "parsed": int((~parsed["malformed"]).sum()),
        "malformed": int(parsed["malformed"].sum()),
        "by_detector_severity": severity_counts(an),
        "minutes": minute_sums(minutes),
        "conv_rows": {k: int(v) for k, v in pdf.groupby("conv_id").size().items()},
        "conv_parsed": {k: int(v) for k, v in
                        parsed[~parsed["malformed"]].groupby("conv_id").size().items()},
        "conv_malformed": {k: int(v) for k, v in
                           parsed[parsed["malformed"]].groupby("conv_id").size().items()},
        "conv_detector": conv_det,
    }
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(exp, fh)
    os.replace(tmp, path)
    return exp


def severity_counts(anomalies) -> dict[str, int]:
    """``{"<detector>/<severity>": rows}`` of an anomaly frame."""
    if len(anomalies) == 0:
        return {}
    g = anomalies.groupby(["detector", "severity"]).size()
    return {f"{d}/{int(s)}": int(n) for (d, s), n in g.items()}


def minute_sums(minutes) -> dict[str, int]:
    out = {"rows": int(len(minutes))}
    out.update({c: int(minutes[c].sum()) for c in MINUTE_COLS})
    return out


def pipeline_failures(exp: dict, parsed: int, malformed: int,
                      by_detector_severity: dict[str, int],
                      minutes: dict[str, int] | None) -> list[str]:
    """Names of the DAG leaves whose output disagrees with the oracle."""
    bad = set()
    if (parsed, malformed) != (exp["parsed"], exp["malformed"]):
        bad.add("online_minutes")
    if minutes is not None and minutes != exp["minutes"]:
        bad.add("online_minutes")
    want = exp["by_detector_severity"]
    for key in set(want) | set(by_detector_severity):
        det = key.split("/")[0]
        if want.get(key, 0) != by_detector_severity.get(key, 0):
            bad.update(leaf for leaf, ds in LEAF_DETECTORS.items() if det in ds)
    return sorted(bad)


def manifest_failures(exp: dict, out_dir: str, conv_bucket: dict[str, int],
                      batches: list[list[int]]) -> int:
    """Bucket batches whose committed manifests or written anomaly rows
    disagree with the oracle."""
    import pyarrow.parquet as pq

    want: dict[int, dict] = {}
    for conv, b in conv_bucket.items():
        w = want.setdefault(b, {"input_rows": 0, "parsed": 0, "malformed": 0,
                                "anomalies_by_detector": Counter()})
        w["input_rows"] += exp["conv_rows"].get(conv, 0)
        w["parsed"] += exp["conv_parsed"].get(conv, 0)
        w["malformed"] += exp["conv_malformed"].get(conv, 0)
        w["anomalies_by_detector"].update(exp["conv_detector"].get(conv, {}))

    written = pq.read_table(os.path.join(out_dir, "anomalies_routed"),
                            columns=["detector", "severity"]).to_pandas()
    rows_ok = severity_counts(written) == exp["by_detector_severity"]
    failed = 0
    for batch in batches:
        ok = rows_ok
        for b in batch:
            path = os.path.join(out_dir, "_checkpoints", f"bucket-{b}.json")
            if not os.path.isfile(path):
                ok = False
                continue
            with open(path) as fh:
                got = json.load(fh)
            w = want.get(b, {"input_rows": 0, "parsed": 0, "malformed": 0,
                             "anomalies_by_detector": Counter()})
            ok = ok and all(got[k] == w[k] for k in ("input_rows", "parsed", "malformed"))
            ok = ok and Counter(got["anomalies_by_detector"]) == w["anomalies_by_detector"]
        failed += not ok
    return failed


def duckdb_expected(sf_dir: str, names) -> dict:
    """DuckDB oracle result per query name over the parquet files in
    ``sf_dir``; a query whose oracle raises maps to the exception."""
    import duckdb

    import __spark_entry__ as entry

    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        sql = entry.oracle_sql()
        out = {}
        for name in names:
            try:
                out[name] = con.execute(sql[name]).df()
            except Exception as exc:  # noqa: BLE001 — reported as a failed query
                out[name] = exc
        return out
    finally:
        con.close()


def _canon(df):
    import pandas as pd

    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = pd.to_datetime(out[c]).dt.tz_localize(None)
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
    return out.sort_values(list(out.columns), ignore_index=True)


def frames_equal(got, want) -> bool:
    """Same columns, rows and values regardless of row order; floats to
    1e-9 after rounding to 6 places."""
    import numpy as np
    import pandas as pd

    if isinstance(want, Exception):
        return False
    g, w = _canon(got), _canon(want)
    if list(g.columns) != list(w.columns) or len(g) != len(w):
        return False
    for c in g.columns:
        if pd.api.types.is_float_dtype(g[c]):
            if not np.allclose(g[c].to_numpy(float), w[c].to_numpy(float),
                               rtol=1e-9, atol=1e-9, equal_nan=True):
                return False
        else:
            try:
                pd.testing.assert_series_equal(g[c], w[c], check_dtype=False,
                                               check_names=False)
            except AssertionError:
                return False
    return True
