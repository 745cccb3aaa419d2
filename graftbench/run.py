#!/usr/bin/env python3
"""graft benchmark: SRI ETL writes, star-schema reads and document operators.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload sri_etl|sri_queries|doc_ops \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs one JVM as a single
closed-loop client on local[<cpus>], checks every op against figures
derived without graft, and prints one JSON line as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end ones, with --trace 1 its
per_layer ones. Progress goes to stderr. Exits non-zero on a wrong output.
"""
import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen_sri
import gen_tables
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
REPLICA = os.path.join(ROOT, "tools", "ref_replica.py")
CLASSPATH = os.path.join(HARNESS, "target", "graftbench.classpath")
DEADLINE_S = 170

# source rows of the SRI CSV and table sizes (None: not used); fact rows
# follow from the fan-out, see README.md
WORKLOADS = {
    "sri_etl": {"sri_rows": 1000, "tables": None},
    "sri_queries": {"sri_rows": 1000, "tables": {
        "customer": 1500, "orders": 15000, "lineitem": 60000, "part": 2000, "documents": 100}},
    "doc_ops": {"sri_rows": None, "tables": {
        "customer": 500, "orders": 10000, "lineitem": 40000, "part": 2000, "documents": 600}},
}
SETUP_REPS = 5
HEAP = "3g"

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def spark_jars():
    """The jar directory of the installed Spark distribution."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("graftbench: no Spark distribution found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile engine + harness with sbt unless the last build is newer
    than every source; returns the runtime classpath."""
    sources = [ENGINE_SRC, os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    newest = max(newest_mtime(sources), os.path.getmtime(os.path.join(HARNESS, "build.sbt")))
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g",
            f"-Dgraftbench.spark.jars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"graftbench: build failed (sbt exit {proc.returncode})")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def replica_counts(csv):
    """Star-schema row counts from the pandas replica of the reference."""
    spec = importlib.util.spec_from_file_location("ref_replica", REPLICA)
    rep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rep)
    dt = rep.build_dim_tiempo()
    dv = rep.build_dim_vehiculo(csv)
    dtr = rep.build_dim_transaccion(csv)
    du = rep.build_dim_ubicacion(csv)
    fact = rep.build_fact(csv, dt, dv, dtr, du)
    return {"dim_tiempo": len(dt), "dim_vehiculo": len(dv), "dim_transaccion": len(dtr),
            "dim_ubicacion": len(du), "fact_registro_vehiculos": len(fact)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for needed in (ENGINE_SRC, REPLICA, os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(needed):
            sys.exit(f"graftbench: {os.path.relpath(needed, ROOT)} not found; "
                     "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build()
    started = time.time()

    cfg = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "tables"))
    try:
        csv, rows, expected = os.path.join(work, "sri.csv"), 0, {}
        if cfg["sri_rows"]:
            rows = cfg["sri_rows"]
            gen_sri.generate(csv, rows, args.seed)
            expected = replica_counts(csv)
            log(f"SRI CSV: {rows} source rows, replica counts {expected}")
        if cfg["tables"]:
            sizes = gen_tables.generate(os.path.join(work, "tables"), cfg["tables"], args.seed)
            log(f"tables: {sizes}")
        with open(os.path.join(work, "expected.json"), "w") as f:
            json.dump(expected, f)

        cpus = len(os.sched_getaffinity(0))
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
               + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", classpath, "graftbench.Main",
                  "--workload", args.workload, "--work", work,
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--cpus", str(cpus), "--setup-reps", str(SETUP_REPS),
                  "--csv", csv, "--source-rows", str(rows),
                  "--tables", os.path.join(work, "tables"),
                  "--expected", os.path.join(work, "expected.json")])
        log(f"running {args.workload} on local[{cpus}] for {args.seconds} s (trace {args.trace})")
        budget = DEADLINE_S - (time.time() - started)
        subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(10.0, budget), check=True)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        failures = list(res["failures"])
        failed = res["failed"]
        attempts = dict(res["attempts_by_op"] or {})
        for name, err in oracle.check(work, os.path.join(work, "tables"), res).items():
            # every attempt of the op produced the digest of the wrong output
            failures.append(f"{name}: {err}")
            failed += attempts.get(name, 1)
        for msg in failures[:20]:
            log(f"FAILED {msg}")

        section = "per_layer" if args.trace else "end_to_end"
        metrics = {}
        for m in spec[section]:
            value = res["metrics"].get(m["name"], 0.0)
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
