#!/usr/bin/env python3
"""Engine benchmark: builds the engine and the benchmark from this checkout,
runs one workload, checks every query's result and prints one JSON line.

    python3 perfbench/run.py --workload analyst_mix --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it carries
the run's label (host, window, source) and the per-pass detail. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
BENCH_SF = "sf0.1"
SELFTEST_SF = "sf0.001"
HEAP = "4g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
# Warm-up passes before the timed ones (the first is the result check) and
# set-up repetitions per run; perfbench/README.md shows how they were sized.
WARMUP = 3
SETUP_CYCLES = 3

WORKLOADS = ["analyst_mix", "stream_ingest", "corpus_scan", "train_loops"]
END_TO_END = ["pass_s", "query_p50_s", "setup_s", "retained_heap_mb"]
PER_LAYER = [
    "tables.cold_load_s", "tables.scan_mb", "tables.scan_rows",
    "operators.construct_s", "operators.construct_jobs", "operators.construct_share",
    "sqlentry.register_s", "sqlentry.construct_s",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.executions", "catalyst.rewrite_rules_s",
    "exec.execute_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.sched_delay_s", "exec.driver_gap_s",
    "exec.busy_ratio", "exec.failed_tasks", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb",
    "streaming.batches", "streaming.batch_s", "streaming.commit_s",
    "streaming.input_rows", "streaming.state_rows", "streaming.state_commit_s",
    "self.bench_s", "self.operators_s", "self.sqlentry_s", "self.catalyst.analysis_s",
    "self.catalyst.optimization_s", "self.catalyst.planning_s", "self.exec.driver_s",
    "self.exec.job_s", "self.exec.stage_s", "self.streaming_s",
    "trace.pass_s", "trace.query_coverage_min", "trace.self_vs_pass",
]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for proj in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in proj.glob("*") if p.is_file() and p.suffix in (".sbt", ".properties", ".scala"))
    for src in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and reaped, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # strays the child left behind
        except ProcessLookupError:
            pass
    return p.returncode, out, err


def classpath():
    """Builds engine + benchmark with sbt when the sources changed since the
    last build in this checkout, and returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no engine sources next to perfbench/; run from the root of a checkout")
    fp = fingerprint()
    stamp = OUT / "classpath.json"
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("fingerprint") == fp and all(Path(p).exists() for p in cached["classpath"]):
            return cached["classpath"], fp
    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"]
    rc, out, err = run_group(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    (OUT / "build.log").write_text(out)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (rc={rc}); see {OUT / 'build.log'}")
    cp = lines[-1].split(os.pathsep)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp}))
    return cp, fp


def read_meminfo_kb():
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    except OSError:
        pass
    return None


def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot. Steal is time the
    hypervisor gave this machine's CPUs to someone else: contention from
    outside that the load average does not show."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
        return fields[7] if len(fields) > 7 else 0, sum(fields[:8])
    except (OSError, ValueError):
        return None


def label(fp):
    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": read_meminfo_kb(),
        "xmx": HEAP,
        "loadavg_start": list(os.getloadavg()),
        "git_commit": commit,
        "source_sha256": fp,
        "utc_start": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def run_jvm(cp, workload, seed, seconds, trace, sf, warmup, cycles):
    data = HERE / "data" / sf
    digests = HERE / "digests" / f"{sf}.json"
    if not data.is_dir() or not digests.is_file():
        fail(f"missing benchmark input {data} or {digests}")
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}-{sf}"
    cmd = (["java", f"-Xmx{HEAP}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(cp), "perfbench.Main", "run",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", str(trace), "--data", str(data), "--digests", str(digests),
              "--warmup", str(warmup), "--setup-cycles", str(cycles)])
    if trace:
        cmd += ["--spans", str(OUT / "traces" / f"{tag}.jsonl")]
    (OUT / "logs").mkdir(parents=True, exist_ok=True)
    with open(OUT / "logs" / f"{tag}.log", "w") as log:
        rc, out, _ = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, stderr=log, text=True)
    res = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if rc != 0 or not res:
        fail(f"benchmark JVM failed (rc={rc}); see {OUT / 'logs' / (tag + '.log')}")
    return json.loads(res[-1][len("PERFBENCH_RESULT "):])


def measure(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    cp, fp = classpath()
    lab = label(fp)
    ticks = cpu_ticks()
    r = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, BENCH_SF,
                args.warmup, SETUP_CYCLES)
    lab["loadavg_end"] = list(os.getloadavg())
    end = cpu_ticks()
    lab["cpu_steal_pct"] = (round(100 * (end[0] - ticks[0]) / max(1, end[1] - ticks[1]), 2)
                            if ticks and end else None)
    lab["utc_end"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    metrics = r["per_layer"] if args.trace else r["end_to_end"]
    names = PER_LAYER if args.trace else END_TO_END
    missing = [n for n in names if n not in metrics or metrics[n]["value"] is None]
    if missing:
        fail(f"metrics missing from the run: {', '.join(missing)}")
    detail = {k: v for k, v in r.items() if k not in ("correct", "attempted", "failed")}
    record = {"label": lab, "trace": args.trace, **detail}
    (OUT / "results").mkdir(parents=True, exist_ok=True)
    with open(OUT / "results" / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {n: metrics[n] for n in names}}))


def selftest():
    """One pass of every workload at the small scale factor, traced and
    untraced; checks correctness and that every metric name is present and
    matches BENCHMARK.json when it is there."""
    bench = ROOT / "BENCHMARK.json"
    units = {}
    if bench.is_file():
        spec = json.loads(bench.read_text())
        if [m["name"] for m in spec["end_to_end"]] != END_TO_END:
            fail("BENCHMARK.json end_to_end differs from run.py END_TO_END")
        if [m["name"] for m in spec["per_layer"]] != PER_LAYER:
            fail("BENCHMARK.json per_layer differs from run.py PER_LAYER")
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        unknown = [w["name"] for w in spec["workloads"] if w["name"] not in WORKLOADS]
        if unknown:
            fail(f"BENCHMARK.json names unknown workloads {unknown}")
    cp, _ = classpath()
    bad = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            r = run_jvm(cp, w, 1, 0, trace, SELFTEST_SF, 1, 1)
            metrics = r["per_layer"] if trace else r["end_to_end"]
            names = PER_LAYER if trace else END_TO_END
            missing = [n for n in names if n not in metrics or metrics[n]["value"] is None]
            wrong_unit = [n for n in names if n in metrics and n in units
                          and metrics[n]["unit"] != units[n]]
            ok = r["correct"] and not missing and not wrong_unit
            bad += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {w} trace={trace} attempted={r['attempted']} "
                  f"failed={r['failed']} missing={missing} wrong_unit={wrong_unit} "
                  f"failures={r.get('failures')}")
    print("selftest", "passed" if not bad else f"FAILED ({bad})")
    sys.exit(1 if bad else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--warmup", type=int, default=WARMUP, help="warm-up passes (for sizing studies)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
    elif not args.workload:
        fail("--workload is required")
    else:
        measure(args)


if __name__ == "__main__":
    main()
