#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The script builds the product and the
benchmark with sbt (once per source state), then launches the benchmark
JVM directly on the compiled classpath, so nothing prefixes its output.
Everything it writes stays under `.bench_build/` in the repository root.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

import trace_report

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
WORKLOADS = ("serve", "corpus")
STATE = ".bench_build"
FIRST_RUN_LIMIT_S = 840
RUN_LIMIT_S = 170

JVM_FLAGS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + [
    "-Duser.timezone=UTC",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.ui.enabled=false",
    "-XX:ReservedCodeCacheSize=512m",
    # no hsperfdata file in the system temp directory: runs write only
    # inside the repository
    "-XX:-UsePerfData",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_result(stdout):
    """The result object from a run's stdout, exactly as captured.

    The last non-empty line must be one bare JSON object with exactly the
    result keys; anything else (a log prefix included) is rejected."""
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    result = json.loads(lines[-1])
    if not isinstance(result, dict) or set(result) != RESULT_KEYS:
        raise ValueError(f"not a result object: {lines[-1][:200]}")
    if not isinstance(result["correct"], bool):
        raise ValueError("correct must be a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result[k], int) or isinstance(result[k], bool):
            raise ValueError(f"{k} must be a whole number")
    if result["attempted"] < 1:
        raise ValueError("attempted must be at least 1")
    for name, m in result["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name}: {m}")
    return result


def source_stamp(root, parts):
    """Hash of every file under `parts` (files or directories)."""
    h = hashlib.sha256()
    for part in parts:
        top = os.path.join(root, part)
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


PRODUCT = ["build.sbt", "project/build.properties", "src/main"]
BENCH = ["perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
# the tables the workloads read: the sf 0.1 catalog, copied unchanged
DATA = "perfbench/data/sf0.1"


def run_limited(cmd, cwd, env, limit_s, capture):
    """Run `cmd` in its own process group; kill the group past `limit_s`,
    or when this script is itself told to stop."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                            stdout=subprocess.PIPE if capture else sys.stderr,
                            stderr=sys.stderr, text=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(128 + signum)

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=max(1, limit_s))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        for s, handler in previous.items():
            signal.signal(s, handler)
    return proc.returncode, out or ""


def classpath(root, deadline):
    """Compile product and benchmark (skipped when sources are unchanged)."""
    stamp = source_stamp(root, PRODUCT + BENCH)
    cache = os.path.join(root, STATE, f"classpath-{stamp}.txt")
    if os.path.exists(cache):
        with open(cache) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    log("building product and benchmark with sbt")
    code, out = run_limited(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), os.environ.copy(),
        deadline - time.time(), capture=True)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"sbt build failed (exit {code})")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as fh:
        fh.write(cp)
    return cp


def heap_gb():
    """A quarter of physical memory, between 2 and 8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return max(2, min(8, round(kb / 4 / 1048576)))
    except (OSError, StopIteration, ValueError):
        return 4


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-fault", action="store_true",
                    help="corrupt one checked output (negative control)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in PRODUCT + BENCH + [DATA] if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f"not a repository root with the product sources: missing {', '.join(missing)}")
        return 2

    start = time.time()
    # the fitted ensemble depends on product code, benchmark code and data
    state = os.path.join(root, STATE, "state-" + source_stamp(root, PRODUCT + BENCH + [DATA]))
    first = not os.path.exists(os.path.join(state, "data", "serve-ensemble", "_READY"))
    deadline = start + (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S)
    cores = len(os.sched_getaffinity(0))
    try:
        cp = classpath(root, deadline)
        tmp = os.path.join(state, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                   SPARK_LOCAL_DIRS=os.path.join(state, "spark-local"))
        def jvm(workload):
            return ["java", *JVM_FLAGS, f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={tmp}",
                    "-cp", cp, "perfbench.Main",
                    "--workload", workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace),
                    "--cores", str(cores), "--state", state, "--data", os.path.join(root, DATA),
                    "--plant-fault", "1" if args.plant_fault else "0"]
        if first:
            # whichever run comes first in a checkout fits the serving ensemble
            log("fitting and saving the serving ensemble")
            code, _ = run_limited(jvm("prepare"), root, env, deadline - time.time(), capture=False)
            if code != 0:
                raise RuntimeError(f"preparing the serving ensemble failed (exit {code})")
        code, out = run_limited(jvm(args.workload), root, env, deadline - time.time(), capture=True)
    except subprocess.TimeoutExpired:
        log("time limit reached; run stopped")
        return 3
    except RuntimeError as e:
        log(str(e))
        return 1
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0:
        log(f"benchmark JVM exited with {code}")
        return 1
    try:
        result = parse_result(out)
        if args.trace:
            spans = trace_report.read_spans(
                os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.spans.jsonl"))
            result["metrics"].update(
                (k, {"value": v, "unit": "ms"})
                for k, v in trace_report.primary_self_ms(args.workload, spans).items())
    except (ValueError, OSError) as e:
        log(f"unusable result: {e}")
        return 1
    results = os.path.join(root, STATE, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh)
    log(f"run took {time.time() - start:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
