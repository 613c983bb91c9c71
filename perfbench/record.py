#!/usr/bin/env python3
"""Records the result digests the benchmark checks every run against.

    python3 perfbench/record.py [sf0.1 sf0.001]

For each scale factor it runs every benchmark query once, writes the
outputs and their oracle SQL, has tools/check.py compare them with the
DuckDB oracle, and only when every output passes copies the digests to
perfbench/digests/<sf>.json. SQL-surface outputs have no oracle of their
own; the recorder refuses to write them unless they digest exactly like
their DataFrame twins. Run from the root of a checkout.
"""
import shutil
import subprocess
import sys

import run


def record(cp, sf):
    out = run.OUT / "record" / sf
    shutil.rmtree(out, ignore_errors=True)
    out.parent.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{run.HEAP}"]
           + [a for p in run.JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-cp", ":".join(cp), "perfbench.Main", "record",
              "--data", str(run.HERE / "data" / sf), "--out", str(out)])
    with open(run.OUT / f"record-{sf}.log", "w") as log:
        rc, _, _ = run.run_group(cmd, 1800, cwd=run.ROOT, stdout=log, stderr=log)
    if rc != 0:
        run.fail(f"record failed for {sf}; see {run.OUT / f'record-{sf}.log'}")
    check = subprocess.run([sys.executable, str(run.ROOT / "tools" / "check.py"),
                            str(run.HERE / "data" / sf), str(out)], capture_output=True, text=True)
    print(check.stdout)
    (run.HERE / "results").mkdir(exist_ok=True)
    (run.HERE / "results" / f"record-{sf}.txt").write_text(check.stdout)
    if check.returncode != 0 or "FAIL" in check.stdout:
        run.fail(f"oracle check failed for {sf}; digests not recorded")
    (run.HERE / "digests").mkdir(exist_ok=True)
    shutil.copy(out / "digests.json", run.HERE / "digests" / f"{sf}.json")
    print(f"recorded {run.HERE / 'digests' / (sf + '.json')}")


def main():
    cp, _ = run.classpath()
    for sf in sys.argv[1:] or [run.BENCH_SF, run.SELFTEST_SF]:
        record(cp, sf)


if __name__ == "__main__":
    main()
