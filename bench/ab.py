"""Interleaved A/B of a base commit against this checkout on one perfbench
workload.

Usage (from the repository root):

    python3 bench/ab.py --workload dag_mixed --pairs 10 --seed0 9001
    python3 bench/ab.py --workload dag_mixed --pairs 3 --seed0 9101 --trace 1

The base side is ``--base`` (default ``HEAD~1``, the parent of the commit
checked out here), checked out into a temporary ``git worktree`` under the
system temp directory and removed afterwards; ``--base-dir`` points at an
existing checkout of the base instead. The change side is this checkout's
working tree. Pair ``i`` runs ``perfbench/run.py`` once on each side with
seed ``seed0 + i`` (the same inputs on both sides), and the side that goes
first alternates from pair to pair. Run length is BENCHMARK.json's
``run_seconds`` on both sides.

For every metric the report gives each side's median and quartiles, the
change/base ratio of the medians, and the pairs the change won (ties count
for neither side). A gain is claimed only when the change wins at least
nine tenths of the pairs AND the medians differ by more than the distance
between the base's quartiles. Each run also records the host steal that
perfbench prints on its summary line (``host_steal_pct=``, the share of CPU
time the hypervisor gave to other guests), and the report prints each
side's median steal next to the metric table: a pair in which one side had
several points more steal than the other is host noise, not a result. The
last line of standard output is the whole report, raw runs included, as one
JSON object; ``--out`` also writes it to a file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git(*args: str) -> str:
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def run_once(checkout: str, workload: str, seed: int, seconds: float,
             trace: int) -> dict:
    """One perfbench run in ``checkout``: its final JSON line plus the
    ``host_steal_pct`` of the summary line before it, or a record of the
    failure."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return {"error": proc.stderr[-2000:], "returncode": proc.returncode}
    run = json.loads(lines[-1])
    steal = re.search(r"\bhost_steal_pct=([0-9.]+)",
                      lines[-2] if len(lines) > 1 else "")
    run["host_steal_pct"] = float(steal.group(1)) if steal else None
    return run


def median_steal(runs: list[dict]) -> float | None:
    """Median host steal (%) over the runs that reported one."""
    vals = [r["host_steal_pct"] for r in runs
            if r.get("host_steal_pct") is not None]
    return statistics.median(vals) if vals else None


def summarize(runs: dict[str, list[dict]], specs: list[dict]) -> dict:
    """Per-metric medians, quartiles and pair wins of change over base."""
    out = {}
    for spec in specs:
        name, lower = spec["name"], spec["better"] == "lower"
        pairs = [
            (b["metrics"][name]["value"], c["metrics"][name]["value"])
            for b, c in zip(runs["base"], runs["change"])
            if name in b.get("metrics", {}) and name in c.get("metrics", {})
        ]
        if not pairs:
            continue
        sides = {}
        for k, vals in (("base", [p[0] for p in pairs]),
                        ("change", [p[1] for p in pairs])):
            q1, med, q3 = (statistics.quantiles(vals, n=4, method="inclusive")
                           if len(vals) > 1 else vals * 3)
            sides[k] = {"median": med, "q1": q1, "q3": q3}
        wins = sum((c < b) if lower else (c > b) for b, c in pairs)
        base_iqr = sides["base"]["q3"] - sides["base"]["q1"]
        diff = sides["base"]["median"] - sides["change"]["median"]
        gain = diff if lower else -diff
        out[name] = {
            "unit": spec["unit"], "better": spec["better"], **sides,
            "ratio": (sides["change"]["median"] / sides["base"]["median"]
                      if sides["base"]["median"] else None),
            "pairs": len(pairs), "change_wins": wins,
            "gain": wins >= 0.9 * len(pairs) and gain > base_iqr,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True,
                    help="first seed; use seeds not seen while developing")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--base", default="HEAD~1")
    ap.add_argument("--base-dir", help="existing checkout of the base side")
    ap.add_argument("--out", help="also write the JSON report here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    specs = bench["per_layer"] if args.trace else bench["end_to_end"]

    worktree = None
    base_dir = args.base_dir
    if base_dir is None:
        worktree = tempfile.mkdtemp(prefix="ab-base-")
        _git("worktree", "add", "--detach", worktree, args.base)
        base_dir = worktree
    sides = {"base": base_dir, "change": ROOT}
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    try:
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_once(sides[side], args.workload, seed,
                             bench["run_seconds"], args.trace)
                runs[side].append(r)
                print(f"pair {i} seed {seed} {side}: failed={r.get('failed')} "
                      f"steal={r.get('host_steal_pct')} "
                      f"{r.get('error', '')[-300:]}", file=sys.stderr)
    finally:
        if worktree is not None:
            _git("worktree", "remove", "--force", worktree)

    report = {
        "workload": args.workload, "trace": args.trace,
        "base": _git("rev-parse", args.base) if args.base_dir is None else base_dir,
        "seeds": [args.seed0, args.seed0 + args.pairs - 1],
        "failed": {k: [r.get("failed") for r in v] for k, v in runs.items()},
        "host_steal_pct_median": {k: median_steal(v) for k, v in runs.items()},
        "metrics": summarize(runs, specs),
        "runs": runs,
    }
    for name, m in report["metrics"].items():
        print(f"{name:34s} base {m['base']['median']:9.3f} "
              f"[{m['base']['q1']:.3f}, {m['base']['q3']:.3f}]  change "
              f"{m['change']['median']:9.3f} [{m['change']['q1']:.3f}, "
              f"{m['change']['q3']:.3f}]  ratio {m['ratio'] or 0:.3f}  "
              f"wins {m['change_wins']}/{m['pairs']}"
              f"{'  GAIN' if m['gain'] else ''}", file=sys.stderr)
    print("host steal % median  " + "  ".join(
        f"{k} {'n/a' if v is None else f'{v:.2f}'}"
        for k, v in report["host_steal_pct_median"].items()), file=sys.stderr)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
