"""Benchmark of the GTS engine: one workload, one seed, one result line.

    python3 benchmark/run.py --workload batch-ws --seed 1 --seconds 15 --trace 0

Builds the engine and the harness (benchmark/build.py), runs the
workload in one JVM, checks its outputs and prints every metric as
`name value unit [n=samples]`, then one JSON result line. With
--trace 1 the result line holds the per-layer metrics of a traced run.

    python3 benchmark/run.py --workload rest-mixed --steady 5 --seed 1 --seconds 15

Steadiness mode: runs the workload with seeds seed..seed+k-1 and prints,
per end-to-end metric, the median, quartiles and spread over median,
flagging a spread above the metric's bound.

    python3 benchmark/run.py --regen-expected

Rewrites benchmark/expected/batch-ws.tsv from the current engine.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("batch-ws", "rest-mixed", "stream-ingest")
EXPECTED = HERE / "expected" / "batch-ws.tsv"
RUN_LIMIT_S = 170  # a run must end within 180 s, its build excepted
DEFAULT_BOUND = 0.10  # steadiness bound of printed metrics the result line omits

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(workload, seed, seconds, trace, regen=False):
    """Build if needed, run the workload's JVM, return its raw record."""
    classes = build.build()
    started = time.monotonic()
    work = build.build_dir() / "work" / f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = (["java", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
           + ADD_OPENS +
           ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
            "--expected", str(EXPECTED), "--regen", "1" if regen else "0"])
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                              timeout=RUN_LIMIT_S - (time.monotonic() - started))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    raw = [l for l in proc.stdout.splitlines() if l.startswith("RAW ")]
    if proc.returncode != 0 or not raw:
        raise RuntimeError(f"{workload} JVM exited with {proc.returncode}")
    return json.loads(raw[-1][4:])


def one_run(args):
    raw = run_jvm(args.workload, args.seed, args.seconds, args.trace)
    for line in raw["info"]:
        print(f"# {line}")
    e2e = stats.end_to_end(args.workload, raw)
    for name, value, unit, n in e2e:
        print(stats.metric_line(name, value, unit, n))
    if args.trace:
        metrics = [(k, v, u) for k, (v, u) in raw["layers"].items()]
        for name, value, unit in metrics:
            print(stats.metric_line(name, value, unit))
    else:
        gated = {name for name, _ in stats.GATED}
        metrics = [(name, value, unit) for name, value, unit, _ in e2e if name in gated]
    print(stats.result_line(raw, metrics))


def bounds():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["bound"] for m in spec["end_to_end"]}


def steady(args):
    """Run k seeds; print median, quartiles and spread of each metric."""
    values, units = {}, {}
    for i in range(args.steady):
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
             "--seed", str(args.seed + i), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"run {i} (seed {args.seed + i}) failed", file=sys.stderr)
            sys.exit(1)
        for line in proc.stdout.splitlines():
            m = stats.parse_metric_line(line)
            if m:
                values.setdefault(m[0], []).append(m[1])
                units[m[0]] = m[2]
        print(f"seed {args.seed + i}: done", file=sys.stderr)
    limit = bounds()
    flagged = 0
    print(f"{'metric':24} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for name, xs in values.items():
        if len(xs) < 2 or name == "error_ratio":
            continue
        q1, med, q3, spread = stats.quartile_spread(xs)
        bound = limit.get(name, DEFAULT_BOUND)
        flag = " OVER" if spread > bound else ""
        flagged += bool(flag)
        print(f"{name:24} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.4f} {bound:6.2f}{flag}"
              f"  [{units[name]}: {' '.join(f'{x:.4g}' for x in xs)}]")
    sys.exit(1 if flagged else 0)


def regen():
    raw = run_jvm("batch-ws", 0, 1, 0, regen=True)
    lines = [l[len("expected "):] for l in raw["info"] if l.startswith("expected ")]
    EXPECTED.parent.mkdir(exist_ok=True)
    EXPECTED.write_text("# program/variant rows keyhash floatsum (see BatchWs.program)\n"
                        + "\n".join(lines) + "\n")
    print(f"wrote {len(lines)} entries to {EXPECTED}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, metavar="K", help="steadiness mode over K seeds")
    ap.add_argument("--regen-expected", action="store_true")
    args = ap.parse_args()
    try:
        if args.regen_expected:
            regen()
        elif args.workload is None:
            ap.error("--workload is required")
        elif args.steady:
            steady(args)
        else:
            one_run(args)
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
