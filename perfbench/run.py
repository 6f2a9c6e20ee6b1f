#!/usr/bin/env python3
"""Layered benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Each run builds the engine from source if needed (`perfbench/build.py`),
then starts one JVM with a fixed heap and `local[N]`, N = the number of
usable cores. The JVM sets up, warms up, and runs timed passes over the
workload's queries for `--seconds` (at least two), checking every result against the
expected output stored in `perfbench/expected/`. `--trace 1` runs the
same loop with a Spark listener, a streaming listener and a plan walk on
every other pass, and reports per-layer metrics instead of end-to-end
ones. See `perfbench/README.md` for the workloads and metrics.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`.
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# Printed with the metrics of BENCHMARK.json, but not in the result line:
# with 2-5 queries per pass the median latency is one query's latency,
# too noisy to gate; p90 exists only with 100 executions; failures are
# counted by `failed` and `attempted`.
EXTRA_UNITS = {"query_p50_s": "s", "query_p90_s": "s", "failed_frac": "ratio"}


def load_json(p):
    with open(p) as f:
        return json.load(f)


def run_workload(name, spec, seed, seconds, trace, engine, metrics):
    t0_ms = time.time() * 1000.0
    stamp = f"{name}-seed{seed}-trace{trace}-{os.getpid()}"
    run_dir = build.build_dir() / "runs" / stamp
    shutil.rmtree(run_dir, ignore_errors=True)
    args = ["--queries", ",".join(spec["queries"]),
            "--data", str(HERE / "data" / spec["sf"]),
            "--expected", str(HERE / "expected" / f"{spec['sf']}.json"),
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--t0", repr(t0_ms)]
    if trace:
        args += ["--trace-dir", str(build.build_dir() / "trace" / f"{name}-seed{seed}")]
    try:
        r = build.jvm(engine, "run", args, run_dir, run_dir.parent / f"{stamp}.log")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    results = build.build_dir() / "results"
    results.mkdir(exist_ok=True)
    (results / f"{stamp}.json").write_text(json.dumps(r, indent=1))
    values = r["per_layer"] if trace else r["end_to_end"]
    report(name, spec, r, values, metrics)
    (run_dir.parent / f"{stamp}.log").unlink(missing_ok=True)
    return {
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in metrics},
    }


def report(name, spec, r, values, metrics):
    """Human-readable lines: box stamp, output check, every metric."""
    s, e = r["stamp"], r["end_to_end"]
    tag = f"[{name}]"
    print(f"{tag} nproc={s['nproc']} master={s['master']} heap={s['heap']} "
          f"sf={spec['sf']} seed={s['seed']} loadavg_start=\"{s['loadavg_start']}\" "
          f"spark={s['spark']} passes={s['passes']} executions={r['attempted']}")
    verdict = "PASS" if r["failed"] == 0 else "FAIL"
    print(f"{tag} output check {verdict}: failed_frac = {e['failed_frac']:.4f} "
          f"({r['failed']} of {r['attempted']} executions failed)")
    for f in r["failures"]:
        print(f"{tag}   failed {f['query']} (pass {f['pass']}): {f['reason']}")
    if "regime" in r:
        print(f"{tag} regime = {r['regime']} "
              f"(operators.parallel_eff = {values['operators.parallel_eff']:.3f})")
    elif "query_p90_s" not in e:
        print(f"{tag} query_p90_s = n/a ({e['executions']} timed executions, fewer than 100)")
    units = dict(EXTRA_UNITS, **{m["name"]: m["unit"] for m in metrics})
    for k in sorted(values):
        if k in units:
            print(f"{tag} {k} = {values[k]} {units[k]}")


def main():
    # a terminated run still stops and waits for its JVM (build.jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = load_json(ROOT / "BENCHMARK.json")
    workloads = load_json(HERE / "workloads.json")
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads) + ["all"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    metrics = bench["per_layer"] if a.trace else bench["end_to_end"]
    names = sorted(workloads) if a.workload == "all" else [a.workload]
    try:
        engine = build.build()
        results = {n: run_workload(n, workloads[n], a.seed, a.seconds, a.trace, engine, metrics)
                   for n in names}
    except (RuntimeError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    if len(results) == 1:
        out = results[names[0]]
    else:
        out = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
