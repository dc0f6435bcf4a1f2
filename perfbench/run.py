#!/usr/bin/env python3
"""End-to-end benchmark of graft's product path and of a set of registry
queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds graft from source into
``.bench_build/`` (first run only), makes the workload's inputs from the
seed (cached per seed under ``.bench_build/fixtures/``), runs one JVM with
``local[<cores>]`` and prints every metric by name with its unit, then a
line of run context, then one JSON result line. With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones, and the spans go to
``.bench_build/results/<workload>-seed<N>-trace1.json.spans.json``.
``run_s`` is the median warm operation time over the measured operations
during which the hypervisor gave other guests less than a tenth of a CPU
(at least the least disturbed half of them); the context line lists every
operation's time and steal, and their plain median.

Workloads (the JVM side is perfbench/src):
  diff_sf01     the ten-table catalog diffed against a seeded drifted copy:
                ParquetSide x2 -> compareAll -> DriftOutput.write -> report,
                checked against the expected result fixtures.py computes
  registry_hot  three SparkEntry queries, full results to the `noop` sink,
                checked against the fingerprints in registry_expected.json;
                a mismatch logs the fingerprint found next to the pinned one,
                which is the value to pin once the DuckDB oracle agrees
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import fixtures  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
PINNED = os.path.join(HERE, "registry_expected.json")
WORKLOADS = ("diff_sf01", "registry_hot")
# seconds a run may take after the build
RUN_LIMIT = 170
# fixtures kept per workload; older seeds are removed
KEEP_FIXTURES = 4
# A fixed heap and young generation, and few malloc arenas, keep the peak
# resident size from following the collector's adaptive sizing.
JVM_ENV = {"MALLOC_ARENA_MAX": "2"}
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", "-Duser.language=en", "-Dspark.ui.enabled=false"] + [
    a for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def metric_specs(trace):
    """(name, unit) of the metrics BENCHMARK.json defines for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def steal_seconds():
    """CPU time the hypervisor gave to other guests, from /proc/stat: with
    the load average, it tells a noisy host from a slow program."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def host_probe_seconds():
    """Time of a fixed single-threaded loop: a slow host shows here even when
    no steal time is recorded."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def prune_fixtures(root, workload, keep):
    dirs = sorted((d for d in os.listdir(root) if d.startswith(workload + "-seed")),
                  key=lambda d: os.path.getmtime(os.path.join(root, d)))
    for d in dirs[:-keep]:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    specs = metric_specs(args.trace)

    classpath = build.build(ROOT, os.path.join(BUILD, "classes"))
    deadline = time.monotonic() + RUN_LIMIT
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)

    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", os.pathsep.join(classpath),
           "perfbench.Main", "--workload", args.workload, "--cores", str(cores),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result]
    if args.workload == "registry_hot":
        cmd += ["--data", DATA, "--expected", PINNED]
    else:
        fx_root = os.path.join(BUILD, "fixtures")
        os.makedirs(fx_root, exist_ok=True)
        cmd += ["--fixture", fixtures.fixture(args.workload, args.seed, fx_root)]
        prune_fixtures(fx_root, args.workload, KEEP_FIXTURES)

    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", os.path.basename(result)[:-len(".json")] + ".log")
    probe = host_probe_seconds()
    steal0 = steal_seconds()
    with open(log, "wb") as fh:
        try:
            done = subprocess.run(cmd, cwd=work, stdout=fh,
                                  stderr=fh, env=dict(os.environ, **JVM_ENV),
                                  timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} exceeded {RUN_LIMIT} s; log in {log}")
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    if done.returncode != 0:
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"{args.workload} exited with {done.returncode}; log in {log}")

    with open(result) as f:
        res = json.load(f)
    res["context"]["steal_s"] = round(steal_seconds() - steal0, 2)
    res["context"]["host_probe_s"] = round(probe, 4)
    verdict = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
               "failed": int(res["failed"])}
    if not verdict["correct"]:
        # a wrong result is a failed run, never a timing
        print("context: " + json.dumps(res["context"], sort_keys=True))
        print(json.dumps(dict(verdict, metrics={})))
        fail(f"{verdict['failed']} of {verdict['attempted']} checks failed: "
             f"{res['context'].get('failed_units', [])}; log in {log}")
    got = res["metrics"]
    if not args.trace:
        missing = [n for n, _ in specs if n not in got]
        if missing:
            fail(f"no value for {missing}")
    metrics = {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in specs}
    width = max(len(n) for n, _ in specs)
    for n, u in specs:
        print(f"{n:<{width}}  {metrics[n]['value']:>18.6f}  {u}")
    print("context: " + json.dumps(res["context"], sort_keys=True))
    print(json.dumps(dict(verdict, metrics=metrics)))


if __name__ == "__main__":
    main()
