"""S9 dashboard sink: the reference's 12-chart graphs directory + HTML index.

Re-expresses /root/reference/src/main.cpp:610-1069 (the --graphs plot-script
sink): the reference WRITES a matplotlib script over its S6/S7 CSV aggregates
and an index.html; it never executes the script itself, and its chart 12
self-skips when scikit-learn is missing. Here the same 12 charts are rendered
directly as dependency-free SVG (no matplotlib in this environment), from the
same two verified inputs:

- the S6 per-minute pivot (minute, total, per-level, anomalies, malformed)
- the S7 parsed-turns frame (ts, level, source, message)

Scale shape: every chart needs only a TINY aggregate (minutes, top-N bars,
a 7-level histogram, a 12x12 correlation), so all heavy work is Spark-side
groupBys; only those small results are collected for rendering. Chart 12
(IsolationForest) mirrors the reference: try sklearn, skip with a message if
absent.
"""

from __future__ import annotations

import html
import math
import os
import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import schema

LEVELS = [lv.lower() for lv in schema.LEVELS]
PALETTE = ["#4878d0", "#ee854a", "#6acc64", "#d65f5f", "#956cb4",
           "#8c613c", "#dc7ec0", "#797979", "#d5bb67", "#82c6e2"]
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"

W, H = 960, 380
PADL, PADR, PADT, PADB = 64, 20, 34, 46
PW, PH = W - PADL - PADR, H - PADT - PADB


def _esc(s) -> str:
    return html.escape(str(s), quote=True)


def _frame(title: str) -> list[str]:
    return [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{W}" height="{H}" '
        f'viewBox="0 0 {W} {H}" font-family="sans-serif" font-size="11">',
        f'<rect width="{W}" height="{H}" fill="white"/>',
        f'<text x="{W/2}" y="20" text-anchor="middle" font-size="14" '
        f'font-weight="bold">{_esc(title)}</text>',
        f'<rect x="{PADL}" y="{PADT}" width="{PW}" height="{PH}" fill="none" '
        f'stroke="#999"/>',
    ]


def _yticks(lo: float, hi: float, out: list[str]) -> None:
    span = hi - lo or 1.0
    for i in range(5):
        v = lo + span * i / 4
        y = PADT + PH - PH * i / 4
        out.append(f'<line x1="{PADL-4}" y1="{y}" x2="{PADL}" y2="{y}" stroke="#999"/>')
        out.append(
            f'<text x="{PADL-8}" y="{y+4}" text-anchor="end">{v:g}</text>'
        )


def _xlabels(labels: list[str], out: list[str], n_max: int = 8) -> None:
    n = len(labels)
    if n == 0:
        return
    step = max(1, n // n_max)
    for i in range(0, n, step):
        x = PADL + PW * (i / max(n - 1, 1))
        out.append(
            f'<text x="{x}" y="{H-PADB+16}" text-anchor="middle">'
            f"{_esc(str(labels[i])[-8:])}</text>"
        )


def _poly(xs: list[float], ys: list[float], lo: float, hi: float,
          color: str) -> str:
    span = hi - lo or 1.0
    n = max(len(xs) - 1, 1)
    pts = " ".join(
        f"{PADL + PW * (i / n):.1f},{PADT + PH - PH * (y - lo) / span:.1f}"
        for i, y in enumerate(ys)
    )
    return f'<polyline points="{pts}" fill="none" stroke="{color}" stroke-width="1.5"/>'


def line_chart(title: str, xlabels: list[str],
               series: list[tuple[str, list[float]]],
               hline: float | None = None) -> str:
    vals = [v for _, ys in series for v in ys if v == v] or [0.0]
    lo, hi = min(0.0, min(vals)), max(vals) or 1.0
    if hline is not None:
        hi = max(hi, hline)
        lo = min(lo, -abs(hline))
    out = _frame(title)
    _yticks(lo, hi, out)
    _xlabels(xlabels, out)
    for i, (label, ys) in enumerate(series):
        c = PALETTE[i % len(PALETTE)]
        out.append(_poly(list(range(len(ys))), ys, lo, hi, c))
        out.append(
            f'<text x="{PADL+8+110*i}" y="{PADT-6}" fill="{c}">{_esc(label)}</text>'
        )
    if hline is not None:
        span = hi - lo or 1.0
        for sign in (1, -1):
            y = PADT + PH - PH * (sign * hline - lo) / span
            if PADT <= y <= PADT + PH:
                out.append(
                    f'<line x1="{PADL}" y1="{y:.1f}" x2="{PADL+PW}" y2="{y:.1f}" '
                    f'stroke="#d65f5f" stroke-dasharray="4 3"/>'
                )
    out.append("</svg>")
    return "\n".join(out)


def bar_chart(title: str, labels: list[str], values: list[float],
              horizontal: bool = False) -> str:
    out = _frame(title)
    n = max(len(values), 1)
    hi = max(values or [1.0]) or 1.0
    if not horizontal:
        _yticks(0, hi, out)
        bw = PW / n
        for i, (lab, v) in enumerate(zip(labels, values)):
            bh = PH * v / hi
            x = PADL + i * bw
            out.append(
                f'<rect x="{x+2:.1f}" y="{PADT+PH-bh:.1f}" width="{bw-4:.1f}" '
                f'height="{bh:.1f}" fill="{PALETTE[i % len(PALETTE)]}"/>'
            )
            out.append(
                f'<text x="{x+bw/2:.1f}" y="{H-PADB+16}" text-anchor="middle">'
                f"{_esc(str(lab)[:10])}</text>"
            )
    else:
        bh = PH / n
        for i, (lab, v) in enumerate(zip(labels, values)):
            bl = PW * v / hi
            y = PADT + i * bh
            out.append(
                f'<rect x="{PADL}" y="{y+2:.1f}" width="{bl:.1f}" '
                f'height="{bh-4:.1f}" fill="{PALETTE[i % len(PALETTE)]}"/>'
            )
            out.append(
                f'<text x="{PADL+4}" y="{y+bh/2+4:.1f}">'
                f"{_esc(str(lab)[:60])} ({v:g})</text>"
            )
    out.append("</svg>")
    return "\n".join(out)


def stacked_area(title: str, xlabels: list[str],
                 series: list[tuple[str, list[float]]]) -> str:
    n = max(len(xlabels), 1)
    totals = [sum(ys[i] for _, ys in series) for i in range(n)]
    hi = max(totals or [1.0]) or 1.0
    out = _frame(title)
    _yticks(0, hi, out)
    _xlabels(xlabels, out)
    base = [0.0] * n
    for si, (label, ys) in enumerate(series):
        top = [base[i] + ys[i] for i in range(n)]
        fwd = [
            f"{PADL + PW * (i / max(n-1,1)):.1f},"
            f"{PADT + PH - PH * top[i] / hi:.1f}"
            for i in range(n)
        ]
        bwd = [
            f"{PADL + PW * (i / max(n-1,1)):.1f},"
            f"{PADT + PH - PH * base[i] / hi:.1f}"
            for i in reversed(range(n))
        ]
        c = PALETTE[si % len(PALETTE)]
        out.append(
            f'<polygon points="{" ".join(fwd + bwd)}" fill="{c}" '
            f'fill-opacity="0.75" stroke="none"/>'
        )
        out.append(
            f'<text x="{PADL+8+90*si}" y="{PADT-6}" fill="{c}">{_esc(label)}</text>'
        )
        base = top
    out.append("</svg>")
    return "\n".join(out)


def heatmap(title: str, row_labels: list[str], col_labels: list[str],
            matrix: list[list[float]], lo: float | None = None,
            hi: float | None = None) -> str:
    out = _frame(title)
    flat = [v for row in matrix for v in row if v == v] or [0.0]
    lo = min(flat) if lo is None else lo
    hi = max(flat) if hi is None else hi
    span = (hi - lo) or 1.0
    nr, nc = len(row_labels), len(col_labels)
    ch, cw = PH / max(nr, 1), PW / max(nc, 1)
    for i, rl in enumerate(row_labels):
        for j in range(nc):
            v = matrix[i][j]
            t = 0.0 if v != v else (v - lo) / span
            r = int(255 * t)
            b = int(255 * (1 - t))
            out.append(
                f'<rect x="{PADL+j*cw:.1f}" y="{PADT+i*ch:.1f}" width="{cw:.1f}" '
                f'height="{ch:.1f}" fill="rgb({r},60,{b})" fill-opacity="0.85"/>'
            )
        out.append(
            f'<text x="{PADL-8}" y="{PADT+i*ch+ch/2+4:.1f}" text-anchor="end">'
            f"{_esc(str(rl)[:10])}</text>"
        )
    step = max(1, nc // 8)
    for j in range(0, nc, step):
        out.append(
            f'<text x="{PADL+j*cw+cw/2:.1f}" y="{H-PADB+16}" '
            f'text-anchor="middle">{_esc(str(col_labels[j])[-8:])}</text>'
        )
    out.append("</svg>")
    return "\n".join(out)


# --- chart data (Spark-side aggregates; only tiny results are collected) ----


def chart_aggregates(parsed: DataFrame, minute_stats_df: DataFrame) -> dict:
    ok = parsed.filter(~F.col("malformed"))
    ts = minute_stats_df.orderBy("minute").toPandas()
    svc = (
        ok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "source").limit(20).toPandas()
    )
    err_msgs = (
        ok.filter(F.col("level_ord").isin(4, 5))
        .groupBy("message").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "message").limit(10).toPandas()
    )
    ips = (
        ok.withColumn(
            "ip",
            F.regexp_extract(
                F.concat_ws(" ", F.coalesce("message", F.lit("")),
                            F.coalesce("source", F.lit(""))),
                IP_RE, 0,
            ),
        )
        .filter(F.col("ip") != "")
        .groupBy("ip").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "ip").limit(15).toPandas()
    )
    top_src = [str(s) for s in svc["source"].head(12) if s is not None]
    per_min_src = (
        ok.filter(F.col("source").isin(top_src))
        .groupBy(F.date_trunc("minute", "ts_parsed").alias("minute"), "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    return dict(ts=ts, svc=svc, err_msgs=err_msgs, ips=ips,
                per_min_src=per_min_src, top_src=top_src)


def render_dashboard(out_dir: str, aggs: dict) -> list[str]:
    """Writes the 12 chart SVGs + index.html; returns written file names."""
    os.makedirs(out_dir, exist_ok=True)
    ts = aggs["ts"]
    minutes = [str(m)[:16] for m in ts["minute"]]
    total = [float(x) for x in ts["total"]]
    written: list[str] = []

    def save(name: str, svg: str) -> None:
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write(svg)
        written.append(name)

    save("01_log_volume_over_time.svg",
         line_chart("Log Volume Over Time", minutes, [("total", total)]))

    err = [float(e) + float(c) for e, c in zip(ts["error"], ts["critical"])]
    rate = [e / t if t else 0.0 for e, t in zip(err, total)]
    save("02_error_rate_over_time.svg",
         line_chart("Error Rate Over Time", minutes, [("error+critical rate", rate)]))

    save("03_log_level_distribution_over_time_stacked.svg",
         stacked_area("Log Level Distribution Over Time", minutes,
                      [(lv, [float(x) for x in ts[lv]]) for lv in LEVELS]))

    w = 10
    mov = [
        sum(total[max(0, i - w + 1): i + 1]) / len(total[max(0, i - w + 1): i + 1])
        for i in range(len(total))
    ]
    save("04_moving_average_trend.svg",
         line_chart(f"Moving Average Trend (window={w})", minutes,
                    [("total", total), ("moving avg", mov)]))

    mu = sum(total) / len(total) if total else 0.0
    var = sum((x - mu) ** 2 for x in total) / (len(total) - 1) if len(total) > 1 else 0.0
    sd = math.sqrt(var)
    z = [(x - mu) / sd if sd else 0.0 for x in total]
    save("05_zscore_over_time.svg",
         line_chart("Z-Score of Per-Minute Volume", minutes, [("z", z)], hline=3.0))

    level_totals = [float(sum(ts[lv])) for lv in LEVELS]
    save("06_log_level_distribution_bar.svg",
         bar_chart("Log Level Distribution", LEVELS, level_totals))

    svc = aggs["svc"]
    save("07_service_activity_distribution.svg",
         bar_chart("Service Activity Distribution",
                   [str(s) for s in svc["source"]],
                   [float(n) for n in svc["n"]]))

    em = aggs["err_msgs"]
    save("08_top_error_messages.svg",
         bar_chart("Top Error Messages", [str(m) for m in em["message"]],
                   [float(n) for n in em["n"]], horizontal=True))

    ips = aggs["ips"]
    save("09_ip_address_frequency.svg",
         bar_chart("IP Address Frequency", [str(i) for i in ips["ip"]],
                   [float(n) for n in ips["n"]], horizontal=True))

    # cap heatmap width: bucket every k minutes so the SVG stays ~400 cols
    mat = [[float(x) for x in ts[lv]] for lv in LEVELS]
    k = max(1, len(minutes) // 400)
    hm_cols = [minutes[i] for i in range(0, len(minutes), k)]
    hm_mat = [
        [sum(row[i: i + k]) for i in range(0, len(row), k)] for row in mat
    ]
    save("10_heatmap_time_vs_log_level.svg",
         heatmap("Time vs Log Level Heatmap", LEVELS, hm_cols, hm_mat))

    # 11: pearson correlation between top services' per-minute counts
    pms = aggs["per_min_src"]
    if len(pms) and len(aggs["top_src"]) >= 2:
        pivot = pms.pivot_table(index="minute", columns="source", values="n",
                                fill_value=0.0)
        cols = [c for c in aggs["top_src"] if c in pivot.columns]
        corr = pivot[cols].corr()
        save("11_service_correlation_matrix.svg",
             heatmap("Service Correlation Matrix", cols, cols,
                     [[float(corr.loc[a, b]) for b in cols] for a in cols],
                     lo=-1.0, hi=1.0))

    # 12: IsolationForest — mirror the reference's plot script: self-skip
    # when scikit-learn is absent (main.cpp chart 12 does exactly this)
    try:
        from sklearn.ensemble import IsolationForest  # noqa: F401

        import numpy as np

        feats = [c for c in ["total", "error", "warn", "critical",
                             "anomalies", "malformed"] if c in ts.columns]
        X = ts[feats].to_numpy(dtype=float)
        model = IsolationForest(n_estimators=200, contamination="auto",
                                random_state=42)
        model.fit(X)
        score = (-model.decision_function(X)).tolist()
        save("12_isolation_forest_anomaly_score.svg",
             line_chart("Isolation Forest Anomaly Score", minutes,
                        [("score", score)]))
    except ImportError:
        print("Skipping Isolation Forest chart: scikit-learn not installed.",
              file=sys.stderr)

    imgs = "\n".join(
        f'<div class="card"><h3>{_esc(n)}</h3>'
        f'<img src="{_esc(n)}" alt="{_esc(n)}"/></div>'
        for n in sorted(written)
    )
    index = (
        "<!DOCTYPE html><html><head><meta charset='utf-8'>"
        "<title>Log Analysis Dashboard</title>"
        "<style>body{font-family:sans-serif;background:#f5f5f5;margin:24px}"
        ".card{background:#fff;border:1px solid #ddd;border-radius:6px;"
        "padding:12px;margin-bottom:18px}img{max-width:100%}</style>"
        "</head><body><h1>Log Analysis Dashboard</h1>"
        f"{imgs}</body></html>"
    )
    with open(os.path.join(out_dir, "index.html"), "w") as fh:
        fh.write(index)
    written.append("index.html")
    return written


def write_dashboard(out_dir: str, parsed: DataFrame,
                    minute_stats_df: DataFrame) -> list[str]:
    return render_dashboard(out_dir, chart_aggregates(parsed, minute_stats_df))
