#!/usr/bin/env python3
"""Run every workload on several seeds and report each end-to-end metric's spread.

    python3 perfbench/steadiness.py --runs 10 --first-seed 1 --out perfbench/steadiness.json

Run from the repository root. Seeds are interleaved across workloads, so a
slow spell of the host lands on every workload alike. The spread of a
metric is the distance between its first and third quartiles
(`statistics.quantiles(values, n=4)`) as a share of its median; each is
compared with the metric's bound in BENCHMARK.json. With `--out`, the
figures are written as JSON (appended to the file's list of sets), and
each metric's median is compared with the previous set's in that file:
the shift is how much worse the new median is, as a share of the old.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, (q3 - q1) / q2


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", help="comma-separated subset")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        workloads = [w for w in workloads if w in args.workloads.split(",")]
    values = {w: {m["name"]: [] for m in bench["end_to_end"]} for w in workloads}
    walls = {w: [] for w in workloads}
    for i in range(args.runs):
        seed = args.first_seed + i
        for w in workloads:
            t0 = time.time()
            proc = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls[w].append(time.time() - t0)
            if proc.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if not result["correct"] or result["failed"]:
                sys.exit(f"{w} seed {seed}: outputs failed their checks")
            for name, m in result["metrics"].items():
                values[w][name].append(m["value"])
            print(f"{w} seed {seed}: {walls[w][-1]:.1f} s  " + "  ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    report = {"seeds": [args.first_seed, args.first_seed + args.runs - 1],
              "host": {"cores": len(os.sched_getaffinity(0)), "machine": platform.machine()},
              "when": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "workloads": {}}
    worst = {"spread": 0.0, "setup_s spread": 0.0}
    for w in workloads:
        rows = {}
        for m in bench["end_to_end"]:
            med, sp = spread(values[w][m["name"]])
            share = sp / m["bound"]
            key = "setup_s spread" if m["name"] == "setup_s" else "spread"
            worst[key] = max(worst[key], share)
            rows[m["name"]] = {"median": med, "spread": sp, "bound": m["bound"],
                               "values": values[w][m["name"]]}
            print(f"{w:8s} {m['name']:18s} median {med:12.4f} {m['unit']:4s} "
                  f"spread {sp:6.3f} bound {m['bound']:.2f} ({share:4.0%} of bound)")
        report["workloads"][w] = {"metrics": rows, "run_wall_s": walls[w]}
        print(f"{w:8s} mean wall per run {statistics.mean(walls[w]):.1f} s")
    print(f"largest spread, setup_s aside: {worst['spread']:.0%} of its bound; "
          f"setup_s: {worst['setup_s spread']:.0%} of its bound")
    if args.out:
        sets = []
        if os.path.exists(args.out):
            with open(args.out) as fh:
                sets = json.load(fh)
        if sets:
            print(f"median shift against the set of {sets[-1]['when']}:")
            for w in workloads:
                for m in bench["end_to_end"]:
                    old = sets[-1]["workloads"].get(w, {}).get("metrics", {}).get(m["name"])
                    if old is None:
                        continue
                    new = report["workloads"][w]["metrics"][m["name"]]["median"]
                    shift = (new - old["median"]) / old["median"] * (1 if m["better"] == "lower" else -1)
                    print(f"{w:8s} {m['name']:18s} {shift:+7.3f} bound {m['bound']:.2f}"
                          + ("  WORSE THAN BOUND" if shift > m["bound"] else ""))
        sets.append(report)
        with open(args.out, "w") as fh:
            json.dump(sets, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
