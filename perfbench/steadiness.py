#!/usr/bin/env python3
"""Run-to-run steadiness of the benchmark's end-to-end metrics.

    python3 perfbench/steadiness.py --workload route_bulk --seeds 1-10 > a.json
    python3 perfbench/steadiness.py --workload route_bulk --seeds 11-20 \
        --compare a.json

Runs perfbench/run.py once per seed (one after another, tracing off) and
prints, per metric, the median, the quartiles and the spread: the distance
between the first and third quartile as a share of the median, as
statistics.quantiles(values, n=4) gives them. A metric is steady when its
spread stays below a third of its bound in BENCHMARK.json (setup_s is
exempt: its bound limits how far its median may move). With --compare,
it also prints each median's relative difference from the medians of an
earlier report, and whether that difference stays within the bound.
"""
import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--compare", help="an earlier report of this script")
    a = ap.parse_args()
    earlier = None
    if a.compare:
        with open(a.compare) as fh:
            earlier = json.load(fh)["metrics"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {m: [] for m in bounds}
    runs = []
    for s in seeds(a.seeds):
        proc = subprocess.Popen(
            bench["command"] + ["--workload", a.workload, "--seed", str(s),
                                "--seconds", str(bench["run_seconds"]),
                                "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        try:
            out, _ = proc.communicate()
        finally:
            if proc.poll() is None:  # interrupted: let run.py stop its JVM
                proc.terminate()
                proc.wait()
        lines = out.strip().splitlines()
        last = json.loads(lines[-1])
        detail = json.loads(lines[-2])["detail"]
        runs.append({"seed": s, "exit": proc.returncode, **last})
        for m in bounds:
            values[m].append(last["metrics"][m]["value"])
        # host state, so a run on a noisy host can be told apart
        print(json.dumps({"seed": s, "correct": last["correct"],
                          **{m: last["metrics"][m]["value"] for m in bounds},
                          "steal_pct": detail["steal_pct"],
                          "loadavg_start": detail["loadavg_start"]}),
              file=sys.stderr, flush=True)
    report = {}
    for m, xs in values.items():
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / q2
        report[m] = {"median": q2, "q1": q1, "q3": q3, "spread": spread,
                     "bound": bounds[m],
                     "steady": m == "setup_s" or spread < bounds[m] / 3}
        if earlier:
            diff = (q2 - earlier[m]["median"]) / earlier[m]["median"]
            report[m]["median_diff"] = diff
            report[m]["within_bound"] = abs(diff) <= bounds[m]
    print(json.dumps({"workload": a.workload, "seeds": a.seeds,
                      "all_correct": all(r["correct"] for r in runs),
                      "metrics": report}, indent=1))


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda sig, _: sys.exit(128 + sig))
    main()
