#!/usr/bin/env python3
"""Benchmark entry point.

    python3 bench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program from source (first run
only), generates the workload's inputs from the seed, drives the workload in
one JVM on local[nproc] for the given seconds, checks every output, and
prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. Everything the run writes lives under
a per-run directory inside the build directory and is removed at the end.
See bench/README.md for what each workload and metric means.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True  # write nothing into the checkout but the build dir
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ["medallion_full", "index_ingest"]

# Input sizes per workload (see README.md "Sizes" for how they were chosen).
SIZES = {
    "medallion_full": {"accounts": 2000},
    "index_ingest": {"docs": 1000, "slices": 40, "slice_rows": 100, "dups": 3, "scale": 1.0},
}
MIN_OPS = 1
JVM_TIMEOUT_S = 170  # the JVM is killed past this: a run must end within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def make_plan(workload, seed, run):
    plan = {"workload": workload, "seed": seed, "run_dir": run, "max_ops": 10**6}
    size = SIZES[workload]
    if workload == "medallion_full":
        hist = gen.history(seed, size["accounts"])
        plan["bronze"] = "bronze"
        plan["bronze_bytes"] = gen.write_bronze(hist, os.path.join(run, "bronze"))
        acc_keys = hist.keys["accounts"]
        plan["expect.accounts"] = len({k[0] for k in acc_keys})
        plan["expect.fact_rows"] = len({(k[0], k[1]) for k in acc_keys})
        for e in gen.ENTITIES:
            plan[f"expect.silver.{e}"] = len(hist.keys[e])
        plan["work"] = "work"
    else:
        plan["index_in"] = "index_in"
        plan["indexes"] = "indexes"
        planted = gen.index_inputs(seed, os.path.join(run, "index_in"), size["docs"],
                                   size["slices"], size["slice_rows"], size["dups"])
        for k, p in enumerate(planted):
            for kind, pairs in p.items():
                plan[f"planted.{k}.{kind}"] = ",".join(f"{a}:{b}" for a, b in pairs)
        plan["max_ops"] = size["slices"]
        plan["tables"] = "tables"
        plan["catalog_out"] = "catalog_out"
        gen.catalog_tables(seed, os.path.join(run, "tables"), size["scale"])
    return plan


def write_props(plan, path):
    with open(path, "w") as fh:
        for k, v in plan.items():
            fh.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")


def run_jvm(classpath, plan_path, run, cpus):
    # The heap may grow to 3 GB; what the program uses is measured, not set.
    # The JIT stops at C1, as for a short-lived batch JVM: with the default
    # tiered JIT most of a cold pass's CPU time is C2 compiling, and how much
    # it compiles swings with the host's scheduling (README "Why C1 only").
    cmd = ["java", "-Xmx3g", "-XX:TieredStopAtLevel=1"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={run}/tmp",
        f"-Dspark.local.dir={run}/spark-local",
        f"-Dspark.sql.warehouse.dir={run}/warehouse",
        f"-Dderby.system.home={run}/derby-home",
        f"-Dderby.stream.error.file={run}/derby.log",
        "-cp", os.pathsep.join(classpath),
        "graft.bench.Main", plan_path,
    ]
    for d in ["tmp", "spark-local", "derby-home"]:
        os.makedirs(os.path.join(run, d), exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    # the program's shuffle knobs stay at their defaults, whatever the caller set
    env.pop("SPARK_GRAFT_SHUFFLE_INIT", None)
    env.pop("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", None)
    env.pop("SPARK_GRAFT_PARALLELISM_FIRST", None)
    with open(os.path.join(run, "jvm.log"), "wb") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=run, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:  # timeout, Ctrl-C or SIGTERM: never leave the JVM behind
            proc.kill()
            proc.wait()
            raise
    if code != 0:
        with open(os.path.join(run, "jvm.log"), "rb") as fh:
            tail = fh.read()[-6000:].decode(errors="replace")
        log(f"JVM exited with {code}; log tail:\n{tail}")
        raise SystemExit(3)
    with open(os.path.join(run, "jvm.log"), errors="replace") as fh:
        for line in fh:
            if line.startswith("[graftbench]"):
                sys.stderr.write(line)
    with open(os.path.join(run, "result.json")) as fh:
        return json.load(fh)


def _cpu_times():
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classpath = build.build(root, build_dir)
    except (FileNotFoundError, subprocess.CalledProcessError) as e:
        log(f"build failed: {e}")
        sys.exit(2)

    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    run = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        t0 = time.time()
        plan = make_plan(args.workload, args.seed, run)
        plan.update(cpus=cpus, seconds=args.seconds, trace=args.trace, min_ops=MIN_OPS)
        plan_path = os.path.join(run, "plan.properties")
        write_props(plan, plan_path)
        log(f"inputs generated in {time.time() - t0:.1f}s")
        cpu0 = _cpu_times()
        res = run_jvm(classpath, plan_path, run, cpus)
        cpu1 = _cpu_times()
        if cpu0 and cpu1:
            d = [b - a for a, b in zip(cpu0, cpu1)]
            log(f"host cpu during run: busy {sum(d[:3]) / max(sum(d), 1):.2f}, steal {d[7] / max(sum(d), 1):.3f}")
        problems = list(res["problems"])
        if args.workload == "index_ingest":
            out = os.path.join(run, "catalog_out")
            if os.path.exists(os.path.join(out, "oracle_sql.json")):
                bad = oracle.compare(os.path.join(run, "tables"), out)
            else:  # the first operation failed before its check recorded them
                bad = ["the catalog outputs were not recorded"]
            if bad:
                # the first catalog pass's answer is wrong, and every pass reproduced it
                problems += bad
                res["failed"] = res["attempted"]
        # keep the span log of a traced run for inspection
        if args.trace:
            with open(os.path.join(build_dir, f"trace-{args.workload}.json"), "w") as fh:
                json.dump({"spans": res["spans"], "per_layer": res["per_layer"]}, fh)
    finally:
        shutil.rmtree(run, ignore_errors=True)

    for p in problems:
        log(f"FAILED {p}")
    log(f"samples_s={res['samples_s']} traced_samples_s={res['traced_samples_s']}")
    if res["tail_s"]:  # [p, value]: highest percentile with ten samples beyond it
        log(f"p{res['tail_s'][0]}_s={res['tail_s'][1]} over {len(res['samples_s'])} samples")
    log(f"end_to_end={res['end_to_end']}")
    log(f"per_layer={res['per_layer']}")
    section = "per_layer" if args.trace else "end_to_end"
    values = res[section]
    metrics = {}
    missing = []
    for m in spec[section]:
        v = values.get(m["name"])
        if v is None:
            if args.trace:
                v = 0.0  # the layer did no work on this workload
            else:
                missing.append(m["name"])
                v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = res["failed"] == 0 and not problems and not missing
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
