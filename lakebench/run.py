"""Lakehouse benchmark: one workload, one seed, one fresh JVM.

    python3 lakebench/run.py --workload medallion --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine and the
benchmark (`lakebench/build.py`). The run generates its seeded inputs,
measures the workload for `--seconds`, checks the engine's outputs against
the planted facts and independent recomputations, and prints one JSON
object as the last line of standard output: end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`. A host line before it
records the machine shape. The exit code is non-zero when the run cannot
complete; a failed output check prints `"correct": false`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from lb import check, metrics, plan  # noqa: E402

# A run must end within 180 s: the JVM gets this long after the build,
# which leaves time for the output checks.
JVM_DEADLINE_S = 150
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def host_shape():
    """nproc and the heap of the repository's test formula: half of
    MemTotal in whole GB, clamped to 2-8 GB."""
    cores = len(os.sched_getaffinity(0))
    heap_gb = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                heap_gb = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, heap_gb


def run_jvm(cp, work, params, heap_gb, budget_s):
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    pfile, rfile = os.path.join(work, "params.json"), os.path.join(work, "result.json")
    with open(pfile, "w") as f:
        json.dump(params, f)
    cmd = (["java", f"-Xmx{heap_gb}g", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={local}", "-cp", cp]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["lakebench.Main", pfile, rfile])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env)
    try:
        code = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("the JVM did not finish in time")
    if code != 0 or not os.path.exists(rfile):
        raise SystemExit(f"the JVM failed with exit code {code}")
    with open(rfile) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(plan.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import build
    cp = build.build()
    t_built = time.monotonic()

    cores, heap_gb = host_shape()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_plan = time.monotonic()
        params, plans = plan.params(args.workload, args.seed, args.seconds, work)
        plan_s = time.monotonic() - t_plan
        params.update(workload=args.workload, seed=args.seed,
                      trace=bool(args.trace), work=work, cores=cores,
                      setup_repeats=metrics.SETUP_REPEATS)
        budget = JVM_DEADLINE_S - (time.monotonic() - t_built)
        result = run_jvm(cp, work, params, heap_gb, budget)
        parts = plan.WORKLOADS[args.workload]
        problems, quality = check.run_checks(parts, plans, params, result)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
        values = metrics.compute(parts, result, cores, plan_s, quality)
        print(json.dumps({"host": {
            "workload": args.workload, "nproc": cores, "heap_gb": heap_gb,
            "storage_pool_mb": round(result["storage_pool_mb"], 1),
            "input_bytes": {p: result[f"{p}_input_bytes"] for p in parts},
            "info": metrics.info(parts, result, values)}}))
        ops = result["ops"]
        out = {"correct": not problems,
               "attempted": len(ops),
               "failed": sum(1 for o in ops if not o["ok"]),
               "metrics": metrics.select(values, bool(args.trace))}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
