#!/usr/bin/env python3
"""Run the benchmark on several seeds and report, per end-to-end metric,
the median and the spread (interquartile range / median, quartiles as
statistics.quantiles(values, n=4) gives them).

    python3 perfbench/spread.py --workloads dashboard_adhoc,store_ingest \
        --seeds 1-10 [--json perfbench/results/spread.json]

Each run is `perfbench/run.py --trace 0 --seconds <run_seconds>`, with
run_seconds and the bounds taken from BENCHMARK.json; a run that fails or
reports correct=false is listed and counted, never dropped silently.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            a, b = part.split("-")
            out += range(int(a), int(b) + 1)
        else:
            out.append(int(part))
    return out


def cpu_times():
    """(steal, total) CPU jiffies of the host since boot, or None where
    /proc/stat is missing. Steal is time the hypervisor gave this machine's
    CPUs to others: on a shared host it explains runs that are slow as a
    whole.
    """
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values) if statistics.median(values) else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--json")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in a.workloads.split(","):
        vals, runs, bad = {}, [], []
        for s in seeds(a.seeds):
            t0, c0 = time.monotonic(), cpu_times()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall, c1 = time.monotonic() - t0, cpu_times()
            steal = (c1[0] - c0[0]) / max(1, c1[1] - c0[1]) if c0 and c1 else None
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                bad.append({"seed": s, "exit": p.returncode})
                continue
            res = json.loads(lines[-1])
            if not res["correct"]:
                bad.append({"seed": s, "failed": res["failed"], "report": lines[-2] if len(lines) > 1 else ""})
            runs.append({"seed": s, "wall_s": wall, "steal_share": steal,
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: {wall:.1f} s wall, " +
                  (f"steal {100 * steal:.1f} %, " if steal is not None else "") +
                  ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        summary = {}
        for k, v in vals.items():
            if len(v) >= 2:
                sp = spread(v)
                summary[k] = {"median": statistics.median(v), "spread": sp,
                              "bound": bounds.get(k), "within_third_of_bound":
                              bounds.get(k) is not None and sp < bounds[k] / 3}
                print(f"  {w} {k}: median {statistics.median(v):.4g} spread {sp:.3f}"
                      f" (bound {bounds.get(k)})", flush=True)
        report[w] = {"runs": runs, "failed_runs": bad, "summary": summary,
                     "mean_wall_s": statistics.mean(r["wall_s"] for r in runs) if runs else None}
    if a.json:
        os.makedirs(os.path.dirname(os.path.abspath(a.json)), exist_ok=True)
        with open(a.json, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
