#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload reference_cycle --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the program and the
benchmark (perfbench/build.py); inputs are generated from the seed and
cached per seed under the build directory. The last line of standard
output is one JSON object: correct, attempted, failed and metrics — the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Every output is checked in every run; a failed check counts as a failed
operation and is never timed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
from bench import metrics  # noqa: E402

WORKLOADS = ("reference_cycle", "corpus_curation")
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_heap():
    """Half the host's memory in GiB, clamped to [2, 8] — the rule the
    repository's test command uses, so no host size is assumed."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def cpu_ticks():
    """Aggregate CPU tick counters of the host (`cpu` line of /proc/stat)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_frac(before, after):
    """Share of CPU time the hypervisor gave to other guests meanwhile."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else None


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(root, classes, args, work, cache, out, log):
    cpus = os.cpu_count() or 1
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xmx{driver_heap()}", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.callstack.depth=200",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dspark.local.dir={work}/tmp",
        f"-Dderby.system.home={work}",
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cache", cache, "--work", work, "--out", out,
    ]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    # these would override spark.local.dir and put shuffle files outside
    # the checkout
    for k in ("SPARK_LOCAL_DIRS", "SPARK_EXECUTOR_DIRS"):
        env.pop(k, None)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    try:
        classes, src_digest = build.build(root)
    except (RuntimeError, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 1

    out_dir = build.build_dir(root)
    cache = os.path.join(out_dir, "inputs")
    work = os.path.join(out_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(cache, exist_ok=True)
    raw_path = os.path.join(work, "raw.json")
    stem = os.path.join(out_dir, "runs", f"{args.workload}-{args.seed}-trace{args.trace}")
    log = stem + ".log"
    ticks = cpu_ticks()
    code = run_jvm(root, classes, args, work, cache, raw_path, log)
    steal = steal_frac(ticks, cpu_ticks())
    if code != 0 or not os.path.exists(raw_path):
        why = "timed out" if code is None else f"exited with {code}"
        print(f"[perfbench] benchmark JVM {why}; log: {log}", file=sys.stderr)
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return 1
    shutil.copyfile(raw_path, stem + ".json")
    with open(raw_path) as fh:
        raw = json.load(fh)

    host = dict(raw["host"], git_commit=git_commit(root), source_sha256=src_digest,
                cpu_steal_frac=steal, gen_s=raw["gen_s"], iterations=raw["iterations"])
    print("host " + json.dumps(host))
    print("timings " + json.dumps(metrics.timings(raw)))
    if raw["failures"]:
        print("failures " + json.dumps(raw["failures"]))

    cores = raw["host"]["cores_used"]
    if args.trace:
        values = metrics.per_layer(raw, cores, steal)
        catalog = metrics.PER_LAYER
        print("self_time_s " + json.dumps(metrics.self_time_table(raw)))
        print("module_task_s " + json.dumps(metrics.module_task_seconds(raw)))
    else:
        catalog = metrics.END_TO_END
        values = metrics.end_to_end(raw)
    shutil.rmtree(work, ignore_errors=True)

    missing = [m for m in catalog if m not in values]
    correct = raw["failed"] == 0 and not missing
    result = {
        "correct": correct,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]) + len(missing),
        "metrics": {m: {"value": values[m], "unit": catalog[m][0]}
                    for m in catalog if m in values},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
