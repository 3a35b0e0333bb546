"""Seeded inputs for the benchmark workloads.

Every table is a pure function of ``(workload, seed)`` and is written as
parquet; the engine under test only ever receives these files, so a change
to the engine cannot change a workload. Sizes are fixed per workload and do
not depend on the seed, so run-to-run spread comes from the system, not from
input size.

Two input families:

- ``transcripts``: the engine's input table (conv_id, turn_idx, role, text,
  tool, ts). ``mixed`` mirrors the synthetic transcript shape: 45% plain,
  35% JSON with alias keys, 15% malformed and 5% empty lines, one hot
  conversation with ~10% of the rows, and scenario segments that make every
  detector fire. ``plain`` renders an events table the way the entry
  module's ``events_as_transcripts`` does: one plain line per event, one
  conversation per user, sparse real timestamps.
- ``sf``: the tables the 36 declared queries read (events, documents,
  embeddings, lineitem, orders, customer, nation, region). Documents follow
  the sf0.1 test data: uniform words from its 31-word vocabulary, 10-100
  words each, its language mix (en 41%, zh 15%, es 15%, fr 15%, de 14%), 20
  sources and its exact-duplicate rate (8 of 5,000 texts). Embeddings are
  fresh unit-norm 64-d gaussians, as ``bench/gen_scaled_sf.py`` draws them.
  nation and region do not vary with the seed: they are sf0.1's two tables
  (25 nations ``NATION_0``..``NATION_24``, five regions), written out here.

``ts`` is written as a microsecond UTC TIMESTAMP: a nanosecond INT64 column
fails the read against the engine's transcripts schema.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # transcripts: (family, rows, conversations); sf: per-table row counts
    "dag_mixed": {
        "transcripts": ("mixed", 10_000, 130),
        "sf": dict(events=2_000, documents=300, embeddings=300,
                   lineitem=6_000, orders=1_500, customer=150),
    },
    "job_resumable": {
        "transcripts": ("plain", 10_000, None),
        "sf": dict(events=2_000, documents=300, embeddings=300,
                   lineitem=6_000, orders=1_500, customer=150),
    },
    # the query workloads' transcripts feed only the traced pipeline and
    # checkpoint layers, so they take the mixed shape those layers exercise
    "query_docs": {
        "transcripts": ("mixed", 5_000, 70),
        "sf": dict(events=2_000, documents=400, embeddings=300,
                   lineitem=6_000, orders=1_500, customer=150),
    },
    "query_suite": {
        "transcripts": ("mixed", 10_000, 130),
        "sf": dict(events=10_000, documents=1_500, embeddings=1_000,
                   lineitem=60_000, orders=15_000, customer=1_500),
    },
}

TRANSCRIPT_FILES = 8  # conversation-range files, like a partitioned ingest

_EPOCH = int(dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_SERVICES = ["auth-service", "db-service", "payment-service", "api-gateway",
             "cache-service"]
_LEVELS = np.array(["TRACE", "DEBUG", "INFO", "WARN", "ERROR", "CRITICAL"])
_LEVEL_W = [0.05, 0.15, 0.45, 0.15, 0.15, 0.05]
_ROLES = np.array(["user", "assistant", "system", "tool"])
_TOOLS = np.array(["search", "code_exec", "browser", "retrieval", "none"])
_MALFORMED = [
    "?????", "null null null", "%%%%%%%@@@@@@@#####", "not a log line at all",
    "2025-1-1 short ts line",
    '{"timestamp": "2025-01-01T00:00:00", "message": "no level here"}',
    '{"level": "INFO", "message": "no timestamp"}', "{broken json", "   ",
]
_TEMPLATES = [
    "User login successful", "Retrying request attempt {n}",
    "Database timeout occurred after {n} ms",
    "Login failed due to invalid password", "Connection closed unexpectedly",
    "ERR-{code} request failed", "Request from {ip} accepted",
    "Session {hex} refreshed", "Cache miss for key {n}",
    "Payment processed amount {n}",
]
_DENSE_SCENARIOS = (1, 2, 3, 5, 6)  # burst, spike, zscore, error rate, heavy

TRANSCRIPT_TYPE = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def _conv_lengths(n_rows: int, n_convs: int) -> np.ndarray:
    """Pareto-shaped lengths that sum to exactly ``n_rows``; conversation 0
    is the hot one with 10% of the rows. The lengths are the distribution's
    quantiles in a fixed order, not draws, so every seed gives the same
    conversation sizes (and the same skew) and only the content varies."""
    hot = n_rows // 10
    u = (np.arange(n_convs - 1) + 0.5) / (n_convs - 1)
    quantiles = (1.0 - u) ** (-1 / 1.2) - 1.0  # Lomax(1.2), as numpy's pareto draws
    raw = np.clip(3 + quantiles * 20, 3, 2000)[np.random.default_rng(0).permutation(n_convs - 1)]
    rest = np.maximum(3, np.floor(raw * (n_rows - hot) / raw.sum())).astype(np.int64)
    diff = (n_rows - hot) - int(rest.sum())
    order = np.argsort(-rest, kind="stable")
    step = 1 if diff > 0 else -1
    for k in range(abs(diff)):
        rest[order[k % len(order)]] += step
    return np.concatenate([[hot], rest])


def _message(rng: np.random.Generator) -> str:
    tpl = _TEMPLATES[int(rng.integers(0, len(_TEMPLATES)))]
    return tpl.format(
        n=int(rng.integers(0, 100_000)), code=int(rng.integers(100, 600)),
        ip=f"10.{rng.integers(0, 4)}.{rng.integers(0, 8)}.{rng.integers(1, 250)}",
        hex=format(int(rng.integers(0, 2**63)), "016x"),
    )


def _fmt(ts: int, sep: str) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime(f"%Y-%m-%d{sep}%H:%M:%S")


def _mixed_conv(rng: np.random.Generator, c: int, length: int, start: int) -> dict:
    """One conversation of the mixed shape, as ``synth.synth_conv_pdf``
    builds it: ``c % 10`` picks the scenario segment, and conversation 0 is
    the hot one, with a dense burst segment."""
    scenario = c % 10
    gaps = rng.integers(0, 31, size=length)
    gaps[0] = 0
    seg0 = max(1, (length - 120) // 2)
    seg1 = min(length, seg0 + 120)
    if scenario in _DENSE_SCENARIOS or c == 0:
        gaps[seg0:seg1] = rng.integers(0, 2, size=seg1 - seg0)
    if scenario == 7 and length > 10:
        gaps[length // 2] = 400  # silence gap
    ts = start + np.cumsum(gaps)

    level = _LEVELS[rng.choice(len(_LEVELS), size=length, p=_LEVEL_W)]
    service = np.array(_SERVICES)[rng.integers(0, len(_SERVICES), size=length)]
    shape = rng.choice(4, size=length, p=[0.45, 0.35, 0.15, 0.05])
    msgs = [_message(rng) for _ in range(length)]
    if scenario == 1 or c == 0:  # burst: one repeated normalized message
        shape[seg0:seg1], level[seg0:seg1], service[seg0:seg1] = 0, "WARN", "cache-service"
        for i in range(seg0, seg1):
            msgs[i] = f"Retrying request attempt {int(rng.integers(0, 99))}"
    elif scenario == 2:  # spike: one service dominates a dense run
        shape[seg0:seg1], service[seg0:seg1] = 0, "api-gateway"
    elif scenario == 3:  # z-score: rate jump
        shape[seg0:seg1], service[seg0:seg1] = 0, "db-service"
    elif scenario == 4 and length >= 12:  # rare IPs around one hot IP
        for k, i in enumerate(range(seg0, min(seg1, seg0 + 12))):
            shape[i] = 0
            msgs[i] = f"Request from {'192.168.1.7' if k % 2 == 0 else f'172.16.{k}.{k + 1}'} accepted"
    elif scenario == 5:  # error rate above half
        shape[seg0:seg1] = 0
        level[seg0:seg1] = np.where(rng.random(seg1 - seg0) < 0.8, "ERROR", "CRITICAL")
    elif scenario == 6:  # heavy window
        shape[seg0:seg1] = 0

    texts = []
    for i in range(length):
        if shape[i] == 0:
            texts.append(f"{_fmt(int(ts[i]), ' ')} [{level[i]}] {service[i]} - {msgs[i]}")
        elif shape[i] == 1:
            keys = [("timestamp", "time", "@timestamp")[rng.integers(0, 3)],
                    ("level", "severity")[rng.integers(0, 2)],
                    ("service", "component", "source")[rng.integers(0, 3)],
                    ("message", "msg")[rng.integers(0, 2)]]
            texts.append(
                f'{{"{keys[0]}": "{_fmt(int(ts[i]), "T")}", "{keys[1]}": "{level[i]}", '
                f'"{keys[2]}": "{service[i]}", "{keys[3]}": "{msgs[i]}", '
                f'"request_id": {int(rng.integers(0, 10**6))}}}'
            )
        elif shape[i] == 2:
            texts.append(_MALFORMED[int(rng.integers(0, len(_MALFORMED)))])
        else:
            texts.append("")
    return dict(
        conv_id=[f"conv-{c:06d}"] * length,
        turn_idx=np.arange(length, dtype=np.int32),
        role=_ROLES[rng.integers(0, 4, size=length)],
        text=texts,
        tool=_TOOLS[rng.integers(0, 5, size=length)],
        ts=ts * 1_000_000,
    )


def mixed_transcripts(rng: np.random.Generator, n_rows: int, n_convs: int) -> pa.Table:
    lengths = _conv_lengths(n_rows, n_convs)
    starts = _EPOCH + rng.integers(0, 86400 * 30, size=n_convs)
    convs = [_mixed_conv(rng, c, int(lengths[c]), int(starts[c])) for c in range(n_convs)]
    cols = {k: np.concatenate([np.asarray(cv[k]) for cv in convs]) for k in convs[0]}
    return pa.table(cols).cast(TRANSCRIPT_TYPE)


def plain_transcripts(events: pa.Table) -> pa.Table:
    """Render events as ``events_as_transcripts`` does: conversation per
    user, turns ordered by (ts, event_id), one plain log line per event."""
    ev = events.to_pandas()
    ev = ev.sort_values(["user_id", "ts", "event_id"], kind="stable")
    turn = ev.groupby("user_id").cumcount().to_numpy(np.int32)
    level = np.where(ev["event_type"] == "error", "ERROR",
                     np.where(ev["event_type"] == "purchase", "WARN", "INFO"))
    stamp = ev["ts"].dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy()
    text = [
        f"{s} [{lv}] events-svc - type={t} value={v!r} user={u}"
        for s, lv, t, v, u in zip(stamp, level, ev["event_type"].tolist(),
                                  ev["value"].tolist(), ev["user_id"].tolist())
    ]
    return pa.table({
        "conv_id": [f"u{u}" for u in ev["user_id"].tolist()],
        "turn_idx": turn,
        "role": _ROLES[(ev["event_id"].to_numpy() % 4)],
        "text": text,
        "tool": ["none"] * len(ev),
        "ts": ev["ts"].to_numpy().astype("datetime64[us]").astype(np.int64),
    }).cast(TRANSCRIPT_TYPE)


def _days(rng, n, lo: str, hi: str) -> pa.Array:
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = d0 + rng.integers(0, int((d1 - d0).astype(int)) + 1, size=n)
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def events_table(rng: np.random.Generator, e: int) -> pa.Table:
    """Events over 30 days in time order, ~67 events per user."""
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, size=e))
    return pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, e * 3 // 200), size=e), pa.int64()),
        "event_type": pa.array(np.array(["signup", "error", "click", "view", "purchase"])[
            rng.integers(0, 5, size=e)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=e)]),
    })


def sf_tables(rng: np.random.Generator, n: dict) -> dict[str, pa.Table]:
    events = events_table(rng, n["events"])

    vocab = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
             "fast", "filter", "group", "hash", "join", "key", "line", "merge",
             "order", "part", "query", "row", "scan", "slow", "small", "sort",
             "spark", "stream", "table", "the", "value", "vector", "window"]
    d = n["documents"]
    lens = rng.integers(10, 101, size=d)
    words = np.array(vocab)[rng.integers(0, len(vocab), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    for i in rng.choice(np.arange(1, d), size=max(1, d * 8 // 5000), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]  # sf0.1's exact-duplicate rate
    documents = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "zh", "es", "fr", "de"])[
            rng.choice(5, size=d, p=[0.412, 0.151, 0.149, 0.148, 0.140])]),
        "source": pa.array([f"src{i % 20}" for i in range(d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    v = n["embeddings"]
    m = rng.normal(size=(v, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), 64)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=v).astype(np.int32)),
    })

    nc, no, nl = n["customer"], n["orders"], n["lineitem"]
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=nc), 2)),
        "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, size=nc)]),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, size=no), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=no)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, size=no), 2)),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, size=no)]),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, size=nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, nl // 30), size=nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, nl // 600), size=nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, size=nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=nl)]),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    return dict(events=events, documents=documents, embeddings=embeddings,
                customer=customer, orders=orders, lineitem=lineitem,
                nation=nation, region=region)


def _write(root: str, workload: str, seed: int) -> None:
    spec = SIZES[workload]
    rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
    sf = sf_tables(rng, spec["sf"])
    os.makedirs(os.path.join(root, "sf"))
    for name, table in sf.items():
        pq.write_table(table, os.path.join(root, "sf", f"{name}.parquet"))

    family, n_rows, n_convs = spec["transcripts"]
    if family == "mixed":
        tr = mixed_transcripts(rng, n_rows, n_convs)
    else:
        tr = plain_transcripts(events_table(rng, n_rows))
    tdir = os.path.join(root, "transcripts")
    os.makedirs(tdir)
    bounds = np.linspace(0, tr.num_rows, TRANSCRIPT_FILES + 1).astype(int)
    for k in range(TRANSCRIPT_FILES):
        pq.write_table(tr.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(tdir, f"part-{k:03d}.parquet"))
    with open(os.path.join(root, "inputs.json"), "w") as fh:
        json.dump({"workload": workload, "seed": seed, "transcript_rows": tr.num_rows,
                   "sf_rows": {k: t.num_rows for k, t in sf.items()}}, fh)


def build(cache_dir: str, workload: str, seed: int) -> str:
    """Return the input directory for (workload, seed), generating it once."""
    root = os.path.join(cache_dir, f"{workload}-{seed}")
    if os.path.isfile(os.path.join(root, "inputs.json")):
        return root
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    _write(tmp, workload, seed)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return root
