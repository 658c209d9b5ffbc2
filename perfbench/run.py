#!/usr/bin/env python3
"""BoxOffice engine benchmark: one workload per process.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: dashboard_adhoc, corpus_batch, store_ingest (see
perfbench/README.md). Run from the root of a checkout of the repository:
the first run compiles the engine and the benchmark (perfbench/build.py)
and generates the sf0.1 input tables into perfbench/.data; later runs reuse
both. The last line of standard output is the result object
{"correct", "attempted", "failed", "metrics"}; the line before it is the
workload's own report. Exits non-zero, without a result line, when the
engine sources are missing, the build fails, or the run fails.

The expected result digests in perfbench/expected are regenerated, after a
DuckDB cross-check, by perfbench/crosscheck.py.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("dashboard_adhoc", "corpus_batch", "store_ingest")
DATA = os.path.join(HERE, ".data", "sf0.1")
OUT = os.path.join(HERE, ".out")
RUN_LIMIT_S = 170      # a run must end within 180 s
FIRST_RUN_LIMIT_S = 850  # the first run also builds and generates inputs

JVM_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    return ap.parse_args()


def result_line(line):
    try:
        obj = json.loads(line)
    except ValueError:
        return None
    if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
        return obj
    return None


def main():
    a = parse()
    t_start = time.monotonic()
    first = not os.path.exists(os.path.join(DATA, "_COMPLETE"))
    try:
        cp = build.build()
    except SystemExit as e:
        sys.stderr.write(f"run: {e}\n")
        return 3
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    # JVM class-data sharing: the first run in a checkout dumps the classes
    # it loaded into an archive (build.py deletes it on a rebuild); later
    # runs map it, so JVM and Spark start-up and first-run class loading
    # cost a third as much. Steady-state op times do not change.
    dumping = not os.path.exists(build.CDS_ARCHIVE)
    cds = (f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}.tmp" if dumping
           else f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}")
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", DATA, "--work", work,
        "--out", OUT, "--expected", os.path.join(HERE, "expected", a.workload + ".tsv")]
    limit = (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.monotonic() - t_start)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=max(10.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write(f"run: {a.workload} exceeded {limit:.0f} s, killed\n")
        return 4
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if dumping and proc.returncode == 0 and os.path.exists(build.CDS_ARCHIVE + ".tmp"):
        os.replace(build.CDS_ARCHIVE + ".tmp", build.CDS_ARCHIVE)
    lines = [l for l in stdout.splitlines() if l.strip()]
    res = result_line(lines[-1]) if lines else None
    if proc.returncode != 0 or res is None:
        sys.stderr.write("\n".join(lines[-20:]) + "\n")
        sys.stderr.write(f"run: {a.workload} failed (exit {proc.returncode})\n")
        return 5
    for l in lines[:-1]:
        print(l)
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
