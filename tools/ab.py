#!/usr/bin/env python3
"""Same-boot A/B of the benchmark between two checkouts.

    git worktree add ../parent HEAD~1        # or: git clone . ../parent
    python3 tools/ab.py --base ../parent --change . --workload batch-ws --pairs 8

Runs `benchmark/run.py` of each checkout alternately over seeds
seed..seed+pairs-1 (the base first on even pairs, the change first on odd
ones, so a drift of the box hits both sides alike), each run with its
own checkout's sources and build. Prints, per gated end-to-end metric of
BENCHMARK.json, the median of each side, their ratio (change / base),
the base's interquartile range, the number of pairs in which the
change is better, the metric's bound and the verdict of the gate a
change that claims no gain must pass (see `verdict`), then the
failed-operation share of each side.
--extra adds a printed metric, such as rest-mixed's fetch_p50_ms; --out
writes every run's metrics as JSON.
"""

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def gated(spec):
    """(name, better) of each gated end-to-end metric of a BENCHMARK.json."""
    return [(m["name"], m["better"]) for m in spec["end_to_end"]]


def bounds(spec):
    """name -> bound of each gated end-to-end metric of a BENCHMARK.json."""
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def verdict(bm, cm, iqr, better, bound):
    """The no-gain gate of one metric, its bound a fraction of the base
    median: 'worse' when the change's median is worse than the base's by
    more than the bound, 'unresolved' when the base's IQR is wider than
    the bound, 'ok' otherwise."""
    worse = cm > bm * (1 + bound) if better == "lower" else cm < bm * (1 - bound)
    if worse:
        return "worse"
    if iqr > bound * abs(bm):
        return "unresolved"
    return "ok"


def run_once(checkout, workload, seed, seconds):
    """One benchmark run: its result line (metrics, attempted, failed)."""
    proc = subprocess.run(
        [sys.executable, str(Path(checkout) / "benchmark" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, cwd=checkout)
    lines = proc.stdout.splitlines()
    results = [l for l in lines if l.startswith("{")]
    if proc.returncode != 0 or not results:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} exited with {proc.returncode}")
    result = json.loads(results[-1])
    # every printed `name value unit [n=k]` line, then the result line's
    metrics = dict(m for m in map(metric_line, lines) if m)
    metrics.update({k: v["value"] for k, v in result["metrics"].items()})
    return {"attempted": result["attempted"], "failed": result["failed"], "metrics": metrics}


def metric_line(line):
    """(name, value) of a printed metric line, None for any other line."""
    parts = line.split()
    if len(parts) not in (3, 4) or (len(parts) == 4 and not parts[3].startswith("n=")):
        return None
    try:
        return parts[0], float(parts[1])
    except ValueError:
        return None


def summarize(base, change, metrics):
    """Per metric: (name, base median, change median, ratio, base IQR,
    pairs where the change is better, pairs). `base` and `change` are
    lists of runs, paired by index; `metrics` is [(name, better)]."""
    rows = []
    for name, better in metrics:
        pairs = [(b["metrics"][name], c["metrics"][name]) for b, c in zip(base, change)
                 if name in b["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        bs, cs = [b for b, _ in pairs], [c for _, c in pairs]
        bm, cm = statistics.median(bs), statistics.median(cs)
        iqr = 0.0
        if len(bs) >= 2:
            q1, _, q3 = statistics.quantiles(bs, n=4)
            iqr = q3 - q1
        wins = sum((c < b) if better == "lower" else (c > b) for b, c in pairs)
        rows.append((name, bm, cm, cm / bm if bm else float("inf"), iqr, wins, len(pairs)))
    return rows


def failed_share(runs):
    """Failed operations over attempted ones, all runs together."""
    attempted = sum(r["attempted"] for r in runs)
    return sum(r["failed"] for r in runs) / attempted if attempted else 0.0


def report(rows, base, change, metrics, limits):
    """The summary table; `limits` maps a gated metric to its bound, and
    a metric without one (an --extra) gets no verdict."""
    better = dict(metrics)
    out = [f"{'metric':18} {'base':>11} {'change':>11} {'ratio':>7} {'base IQR':>10} {'better':>7}"
           f" {'bound':>6} verdict"]
    for name, bm, cm, ratio, iqr, wins, n in rows:
        bound = limits.get(name)
        gate = (f"{bound:6.3g} {verdict(bm, cm, iqr, better[name], bound)}"
                if bound is not None else f"{'-':>6} -")
        out.append(f"{name:18} {bm:11.5g} {cm:11.5g} {ratio:7.4f} {iqr:10.4g} {wins:>3}/{n:<3} {gate}")
    out.append(f"{'failed share':18} {failed_share(base):11.4g} {failed_share(change):11.4g}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", default=str(ROOT), help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=8)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--extra", action="append", default=[], metavar="NAME[:higher]",
                    help="also summarize a printed metric (lower is better by default)")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    args = ap.parse_args()
    spec = json.loads((Path(args.change) / "BENCHMARK.json").read_text())
    metrics = gated(spec)
    metrics += [(e.split(":")[0], e.split(":")[1] if ":" in e else "lower") for e in args.extra]
    sides = {"base": args.base, "change": args.change}
    runs = {"base": [], "change": []}
    for i in range(args.pairs):
        seed = args.seed + i
        order = ("base", "change") if i % 2 == 0 else ("change", "base")
        for side in order:
            runs[side].append(run_once(sides[side], args.workload, seed, args.seconds))
        print(f"pair {i + 1}/{args.pairs} (seed {seed}) done", file=sys.stderr)
        if args.out:
            Path(args.out).write_text(json.dumps(runs, indent=1))
    print(f"{args.workload}: {args.pairs} pairs, seeds {args.seed}..{args.seed + args.pairs - 1}")
    print(report(summarize(runs["base"], runs["change"], metrics), runs["base"], runs["change"],
                 metrics, bounds(spec)))


if __name__ == "__main__":
    main()
