#!/usr/bin/env python3
"""Lakehouse benchmark: one command per workload run.

    python3 perfbench/run.py --workload medallion|table_dml \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the harness from
source (sbt, cached in .bench_build/ by a hash of the sources), generates
the workload's inputs from the seed, runs one JVM (one client thread,
closed loop, local[nproc]), checks every output, prints a human-readable
report and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}; the metrics are the
end-to-end ones of BENCHMARK.json, or with --trace 1 the per-layer ones.
Spark and engine logs go to .bench_build/work/<workload>/jvm.log.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

# a run must end within 180 s; the JVM gets what generation leaves
JVM_TIMEOUT_S = 150
# Workload sizes (see README.md for what each means and why)
MEDALLION_USERS, MEDALLION_PRODUCTS = 1000, 500
# the pipeline's warm-up pass runs on a smaller CSV set of the same shape
MEDALLION_WARM_USERS = 100
LAKE_SF, DML_SF = 0.01, 0.002

UNITS = {"setup_s": "s", "pipeline_s": "s", "read_geomean_s": "s", "read_mean_s": "s", "read_p50_s": "s", "read_p90_s": "s",
         "reads_per_s": "1/s", "write_p50_s": "s", "write_p90_s": "s",
         "write_bytes_per_live_byte": "ratio", "space_bytes_per_live_byte": "ratio",
         "failed_ratio": "ratio", "heap_peak_mb": "MB"}
APPLIES = {"medallion": ["pipeline_s", "read_geomean_s", "read_mean_s", "read_p50_s", "read_p90_s", "reads_per_s"],
           "table_dml": ["pipeline_s", "read_geomean_s", "read_mean_s", "read_p50_s", "read_p90_s", "write_p50_s",
                         "write_p90_s",
                         "write_bytes_per_live_byte", "space_bytes_per_live_byte"]}

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine sources (src/main/scala) are not in this checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    key = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
        out.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"perfbench: build failed (see {BUILD}/build.log)")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp, "w").write(key)
    log(f"perfbench: built in {time.time() - t0:.1f}s")
    return cp


def steal_seconds():
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def heap_arg():
    # a quarter of the machine's memory, between 2 and 6 GiB
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    gb = max(2, min(6, kb // (4 << 20)))
    # a fixed heap: G1 does not resize it with the run's GC timing
    return [f"-Xms{gb}g", f"-Xmx{gb}g"]


def make_inputs(workload, seed, work):
    """Generate the workload's inputs; return (spec, generation seconds)."""
    import gen
    t0 = time.time()
    if workload == "medallion":
        spec = {}
        for prefix, users in [("", MEDALLION_USERS), ("warm.", MEDALLION_WARM_USERS)]:
            raw = os.path.join(work, prefix + "raw")
            counts = gen.instacart_csvs(raw, seed, users, MEDALLION_PRODUCTS)
            spec.update({prefix + "raw_dir": raw,
                         prefix + "duplicates.orders": counts["duplicates"]["orders"]})
            for layer in ["bronze", "silver"]:
                spec.update({f"{prefix}{layer}.{t}": n for t, n in counts[layer].items()})
            spec.update({f"{prefix}gold.{t}": n for t, n in gen.gold_counts(raw).items()})
        data = os.path.join(work, "data")
        gen.star_tables(data, seed, LAKE_SF)
        spec["data_dir"] = data
    else:
        spec = {"data_dir": os.path.join(work, "data")}
        gen.star_tables(spec["data_dir"], seed, DML_SF)
    return spec, time.time() - t0


def run_jvm(cp, args, work, spec):
    spec_file, out_file = os.path.join(work, "spec.properties"), os.path.join(work, "result.json")
    with open(spec_file, "w") as f:
        for k, v in spec.items():
            f.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *heap_arg(), "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work,
            "--spec", spec_file, "--out", out_file]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: the JVM did not finish in time (see jvm.log)")
    if rc != 0 or not os.path.exists(out_file):
        raise SystemExit(f"perfbench: the JVM exited with {rc} (see {work}/jvm.log)")
    with open(out_file) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["medallion", "table_dml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec, gen_s = make_inputs(args.workload, args.seed, work)
    steal0, t0 = steal_seconds(), time.time()
    res = run_jvm(cp, args, work, spec)
    steal_s, wall_s = steal_seconds() - steal0, time.time() - t0

    failures = list(res["failures"])
    failed, attempted = int(res["failed"]), int(res["attempted"])
    if args.workload == "medallion":
        import oracle
        for q, why in oracle.compare(res["extra"]["results_dir"], spec["data_dir"]).items():
            failures.append({"op": q, "pass": "all", "error": f"oracle mismatch: {why}"})
            # every execution reproduced a wrong answer; those the JVM
            # already failed are counted once
            failed += int(res["extra"][f"executions_ok.{q}"])

    setup = res["setup"]
    e2e = dict(res["e2e"])
    e2e["setup_s"] = gen_s + sum(setup.values())
    e2e["failed_ratio"] = failed / max(1, attempted)
    env = dict(res["env"], nproc=os.cpu_count(), steal_s=round(steal_s, 2), wall_s=round(wall_s, 2))

    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"  host: nproc={env['nproc']} cores_used={env['cores']} jdk={env['jdk']} "
          f"spark={env['spark']} steal_s={env['steal_s']} jvm_wall_s={env['wall_s']}")
    print(f"  setup: gen_s={gen_s:.3f} " + " ".join(f"{k}={v:.3f}" for k, v in sorted(setup.items())))
    print(f"  ops: attempted={attempted} failed={failed} passes={int(e2e['passes'])} "
          f"reads={int(e2e['reads'])}" + (f" writes={int(e2e['writes'])} chain_length="
                                         f"{e2e['chain_length']:.0f}" if "writes" in e2e else ""))
    print("  passes (wall/pipeline): " + " ".join(
        f"{p['pass']}{'t' if p['traced'] else ''}={p['seconds']:.3f}/{p['pipeline_s']:.3f}s"
        for p in res["pass_s"]))
    for name in ["setup_s"] + APPLIES[args.workload] + ["failed_ratio", "heap_peak_mb"]:
        print(f"  {name:<28} {e2e[name]:>14.6g} {UNITS[name]}")
    if res["self_time"]:
        print("  self time over traced passes (share of their wall time):")
        for r in res["self_time"]:
            print(f"    {r['layer']:<10} {r['self_s']:>10.3f} s  {100 * r['share']:6.1f}%")
        print(f"  spans: {work}/spans-{args.workload}.jsonl")
    for f_ in failures[:10]:
        print(f"  FAILED {f_['op']} (pass {f_['pass']}): {f_['error']}")
    with open(os.path.join(work, "run.json"), "w") as f:
        json.dump({"args": vars(args), "env": env, "setup": setup, "gen_s": gen_s, "e2e": e2e,
                   "layers": res["layers"], "self_time": res["self_time"], "pass_s": res["pass_s"],
                   "ops": res["ops"],
                   "failures": failures}, f, indent=1)

    if args.trace:
        metrics = {m["name"]: {"value": float(res["layers"].get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    for m in metrics.values():
        if not math.isfinite(m["value"]):
            m["value"] = 0.0
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
