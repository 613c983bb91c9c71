#!/usr/bin/env python3
"""Studies made with the benchmark; each appends its runs to a JSONL file.

    python3 perfbench/study.py spread   WORKLOAD [SEEDS]   # e.g. 1-10
    python3 perfbench/study.py overhead WORKLOAD [PAIRS]
    python3 perfbench/study.py warmup   WORKLOAD [SECONDS]
    python3 perfbench/study.py layers   WORKLOAD [SEED]

spread   runs one untraced run per seed and prints, per end-to-end metric,
         the median and the quartile spread (Q3 - Q1) / median.
overhead alternates untraced and traced runs on the same seed (the order
         flips every pair) and compares pass_s with the traced pass time.
warmup   runs a single warm-up pass and then times passes for SECONDS, to
         show whether pass times still trend after the warm-up.
layers   one traced run: per-layer self time, counts and the accounting
         checks.
Run from the root of a checkout.
"""
import json
import statistics
import subprocess
import sys

import run

RESULTS = run.HERE / "results"


def bench(workload, seed, trace, seconds=None, warmup=None):
    cmd = [sys.executable, str(run.HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--trace", str(trace)]
    if seconds is not None:
        cmd += ["--seconds", str(seconds)]
    if warmup is not None:
        cmd += ["--warmup", str(warmup)]
    p = subprocess.run(cmd, cwd=run.ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"run failed: {' '.join(cmd)}\n{p.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def save(name, record):
    RESULTS.mkdir(exist_ok=True)
    with open(RESULTS / name, "a") as f:
        f.write(json.dumps(record) + "\n")


def seeds_of(arg, default):
    if not arg:
        return default
    lo, _, hi = arg.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartile_spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def spread(workload, arg):
    seeds = seeds_of(arg, list(range(1, 11)))
    values = {}
    for s in seeds:
        detail, last = bench(workload, s, 0)
        save(f"spread-{workload}.jsonl", {"detail": detail, "result": last})
        for k, m in last["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={m['value']:.4g}" for k, m in last["metrics"].items())
              + f" correct={last['correct']} passes={len(detail['passes'])}", flush=True)
    for k, vs in values.items():
        med, sp = quartile_spread(vs)
        print(f"{workload} {k}: median {med:.4g}, quartile spread {sp:.3%} over {len(vs)} runs")


def overhead(workload, arg):
    pairs = int(arg or 4)
    off, on = [], []
    for i in range(pairs):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            detail, last = bench(workload, 100 + i, trace)
            save(f"overhead-{workload}.jsonl", {"detail": detail, "result": last})
            (on if trace else off).append(last["metrics"]["trace.pass_s" if trace else "pass_s"]["value"])
    mo, mt = statistics.median(off), statistics.median(on)
    print(f"{workload}: untraced pass_s median {mo:.3f} s {off}, traced {mt:.3f} s {on}, "
          f"overhead {(mt - mo) / mo:+.1%}")


def warmup(workload, arg):
    detail, last = bench(workload, 1, 0, seconds=float(arg or 90), warmup=1)
    save(f"warmup-{workload}.jsonl", {"detail": detail, "result": last})
    print(f"{workload}: warm-up pass {detail['warmup_passes']}, timed passes {detail['passes']}")


def layers(workload, arg):
    detail, last = bench(workload, int(arg or 1), 1)
    save(f"layers-{workload}.jsonl", {"detail": detail, "result": last})
    m = {k: v["value"] for k, v in last["metrics"].items()}
    pass_s = m["trace.pass_s"]
    print(f"{workload}: traced pass {pass_s:.3f} s (median of {len(detail['passes'])})")
    for k in sorted(k for k in m if k.startswith("self.")):
        print(f"  {k:32s} {m[k]:8.3f} s  {m[k] / pass_s:6.1%}")
    for k in sorted(k for k in m if not k.startswith("self.")):
        print(f"  {k:32s} {m[k]:10.4g}")


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in ("spread", "overhead", "warmup", "layers"):
        sys.exit(__doc__)
    globals()[sys.argv[1]](sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)


if __name__ == "__main__":
    main()
