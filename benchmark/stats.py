"""Statistics and output format of the benchmark (no Spark, no I/O)."""

import json
import math
import statistics

# End-to-end metrics every workload reports; run.py puts exactly these
# in the result line of an untraced run (BENCHMARK.json lists them).
GATED = [("setup_s", "s"), ("cold_s", "s"), ("throughput_per_s", "1/s"),
         ("retained_heap_mb", "MB")]

# A percentile is reported only when this many samples lie beyond it.
MIN_BEYOND = 10


def percentile(samples, p):
    """Nearest-rank p-th percentile (the smallest sample with at least p%
    of the samples at or below it)."""
    s = sorted(samples)
    if not s:
        raise ValueError("no samples")
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def reportable(n, p):
    return beyond(n, p) >= MIN_BEYOND


def quartile_spread(values):
    """(q1, median, q3, (q3 - q1) / median), as statistics.quantiles gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def metric_line(name, value, unit, n=None):
    """One metric per line: name, value with all its digits, unit, and
    the sample count behind a percentile or median."""
    line = f"{name} {value!r} {unit}"
    return line if n is None else f"{line} n={n}"


def parse_metric_line(line):
    """Inverse of metric_line; None for a line that is not a metric."""
    parts = line.split()
    if len(parts) not in (3, 4) or (len(parts) == 4 and not parts[3].startswith("n=")):
        return None
    try:
        value = float(parts[1])
    except ValueError:
        return None
    n = int(parts[3][2:]) if len(parts) == 4 else None
    return parts[0], value, parts[2], n


def end_to_end(workload, raw):
    """Every end-to-end metric of a run as (name, value, unit, n): the
    gated ones first, then the workload's own."""
    setup, rounds = raw["setup_s"], raw["rounds_s"]
    round_s = statistics.median(rounds)
    out = [("setup_s", statistics.median(setup), "s", len(setup)),
           ("cold_s", raw["cold_s"], "s", None),
           ("throughput_per_s", raw["units_per_round"] / round_s, "1/s", len(rounds)),
           ("retained_heap_mb", raw["retained_heap_mb"], "MB", None)]
    kinds = raw["kinds"]
    if workload == "batch-ws":
        # the median pass; throughput_per_s is programs per pass over it
        out.append(("pass_s", round_s, "s", len(rounds)))
    elif workload == "rest-mixed":
        for kind, xs in kinds.items():
            for p in (50, 90):
                if reportable(len(xs), p):
                    out.append((f"{kind}_p{p}_ms", percentile(xs, p), "ms", len(xs)))
    elif workload == "stream-ingest":
        # throughput_per_s counts ingested rows here: it is the
        # ingest_rows_per_s of this workload, so it is not printed twice
        xs = kinds.get("batch", [])
        if reportable(len(xs), 50):
            out.append(("batch_p50_ms", percentile(xs, 50), "ms", len(xs)))
    attempted = max(1, raw["attempted"])
    out.append(("error_ratio", raw["failed"] / attempted, "ratio", attempted))
    return out


def result_line(raw, metrics):
    """The last line of a run: exactly correct, attempted, failed, metrics."""
    return json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": max(1, int(raw["attempted"])),
        "failed": int(raw["failed"]),
        "metrics": {name: {"value": value, "unit": unit} for name, value, unit in metrics},
    })
