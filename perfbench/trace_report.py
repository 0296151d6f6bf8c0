#!/usr/bin/env python3
"""Summarise traced runs: per-layer self time, and what tracing cost.

    python3 perfbench/run.py --workload serve --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload serve --seed 7 --seconds 10 --trace 1
    python3 perfbench/trace_report.py --seed 7 serve

Run from the repository root. A traced run leaves its spans in
`.bench_build/state-*/traces/<workload>-seed<n>.spans.jsonl`, one JSON
object per span (id, parent, name, layer, op, kind, start_ns, end_ns). A
span's self time is its duration minus the time its child spans cover.
The per-layer metrics `self.*` of a traced run are computed here, over
the spans of the workload's primary operations only. The overhead line
compares the primary operation's median latency of the traced run with
that of the untraced run on the same seed.
"""
import argparse
import glob
import json
import os
from collections import defaultdict

STATE = ".bench_build"
# per workload: the kind of its primary operation, and its entry layer
PRIMARY = {"serve": ("small", "core"), "corpus": ("commit", "streaming")}


def self_times(spans):
    """Self time in ms per span id."""
    child = defaultdict(int)
    for s in spans:
        child[s["parent"]] += s["end_ns"] - s["start_ns"]
    return {s["id"]: (s["end_ns"] - s["start_ns"] - child[s["id"]]) / 1e6 for s in spans}


def summarise(spans):
    """(per-layer self ms, per-(layer, name) self ms, operation count)."""
    own = self_times(spans)
    by_layer, by_name = defaultdict(float), defaultdict(float)
    for s in spans:
        by_layer[s["layer"]] += own[s["id"]]
        by_name[(s["layer"], s["name"])] += own[s["id"]]
    ops = len({s["op"] for s in spans if s["op"]})
    return by_layer, by_name, ops


def read_spans(path):
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def primary_self_ms(workload, spans):
    """Self time per primary operation in the workload's entry layer and
    in the Spark actions the benchmark forces: the `self.*` metrics."""
    kind, entry = PRIMARY[workload]
    by_layer, _, ops = summarise([s for s in spans if s["kind"] == kind])
    n = max(ops, 1)
    return {"self.entry_ms": by_layer[entry] / n, "self.spark_ms": by_layer["spark"] / n}


def overhead(workload, seed):
    """Traced vs untraced primary p50, or None if either run is missing."""
    paths = [os.path.join(STATE, "results", f"{workload}-seed{seed}-trace{t}.json") for t in (0, 1)]
    if not all(os.path.exists(p) for p in paths):
        return None
    with open(paths[0]) as fh:
        plain = json.load(fh)["metrics"]["primary_p50_ms"]["value"]
    with open(paths[1]) as fh:
        traced = json.load(fh)["metrics"]["trace.primary_p50_ms"]["value"]
    return plain, traced


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("workloads", nargs="*", default=sorted(PRIMARY))
    args = ap.parse_args()
    for w in args.workloads:
        files = sorted(glob.glob(os.path.join(STATE, "state-*", "traces", f"{w}-seed{args.seed}.spans.jsonl")),
                       key=os.path.getmtime)
        if not files:
            print(f"{w}: no traced run for seed {args.seed}")
            continue
        spans = read_spans(files[-1])
        by_layer, by_name, ops = summarise(spans)
        total = sum(by_layer.values())
        print(f"{w} (seed {args.seed}): {len(spans)} spans over {ops} operations")
        print(f"  per {PRIMARY[w][0]} operation: " + "  ".join(
            f"{k} {v:.1f} ms" for k, v in primary_self_ms(w, spans).items()))
        for layer, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            print(f"  {layer:10s} self {ms:11.1f} ms  {ms / total:6.1%}  {ms / max(ops, 1):9.2f} ms/op")
        for (layer, name), ms in sorted(by_name.items(), key=lambda kv: -kv[1])[:8]:
            print(f"    {layer}:{name:34s} {ms:11.1f} ms")
        ov = overhead(w, args.seed)
        if ov:
            plain, traced = ov
            print(f"  tracing overhead: primary p50 {plain:.1f} ms untraced, {traced:.1f} ms traced "
                  f"({(traced - plain) / plain:+.1%})")
        else:
            print("  tracing overhead: run the same seed with --trace 0 and --trace 1 to see it")


if __name__ == "__main__":
    main()
