#!/usr/bin/env python3
"""Pipeline benchmark for graft: one command, one workload, one JSON line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --oracle [--seed N]

Workloads (see BENCHMARK.json): cdc, corpus_curation.

Steps of a run:
1. Build: compile graft's sources plus the harness under perfbench/src with
   perfbench's own sbt build (skipped when the source stamp is unchanged).
2. Generate the seeded input (perfbench/gen.py), cached per seed under
   .bench_build/perfbench/data/.
3. Launch the harness JVM (perfbench.Main). --trace 0 times one untraced
   pass, the first in the JVM: `setup_s` runs from the JVM's launch to the
   start of that pass (JVM start, SparkSession, opening the input; input
   generation is not included). The pass is the unit of measurement, so a
   run lasts about as long as one pass takes, whatever --seconds says.
4. Print every metric by name and unit, then, as the last line, the result:
   {"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
   end-to-end metrics of the untraced pass; --trace 1 every per-layer metric
   of BENCHMARK.json from the traced run (0 for the layers of the other
   workload, which this one does not call). The full artifact (spans,
   checks, effective Spark conf, input metadata) goes to
   .bench_build/perfbench/results/.

--oracle runs the unmodified graft.Verify and scripts/check.py on the
oracled queries that match the generated input of a seed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc", "corpus_curation")
# the layers each workload calls (metric-name prefixes). A traced run reports
# every per-layer metric of BENCHMARK.json: those of a layer its workload
# does not call are 0 (no time, no jobs, no work), the rest are measured
LAYERS = {
    "cdc": ("sources.Tables.", "sources.DebeziumSource.", "cdc.", "sinks.", "streaming."),
    "corpus_curation": ("sources.Tables.", "llm."),
}
# input sizes, frozen: changing them changes every metric
SIZES = {"events": 3000, "users": 20000, "docs": 300, "vectors": 600}
HEAP = "-Xmx3g"
# a run must end within 180 s of its launch (the first run in a checkout,
# which builds, within 900 s); the harness JVM is killed at this deadline
DEADLINE_S = 175
# a build (the first run in a checkout) must end within this, counted from
# launch, which leaves the run itself DEADLINE_S of the 900 s it may take
BUILD_DEADLINE_S = 700
STARTED = time.time()
ORACLE_QUERIES = ["cdc_evaluate", "cdc_evaluate_log", "cdc_debezium_e2e",
                  "cdc_apply_state", "dedup_verify_capped", "dedup_clusters",
                  "ann_semdedup_capped"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation graft builds and runs against (SPARK_HOME, set
    by the same environment that puts sbt on PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark installation")
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars")


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(HERE, "target", "scala-2.13", "classes")


def build():
    """Compile graft and the harness unless the source stamp is unchanged;
    returns whether it compiled."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under src/main/scala (run from a checkout root)")
    classes = classes_dir()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return False
    env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx3g"]))
    os.makedirs(BUILD, exist_ok=True)
    run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
              os.path.join(BUILD, "build.log"), STARTED + BUILD_DEADLINE_S, "build",
              cwd=HERE, env=env)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


def generate(seed):
    gen = os.path.join(HERE, "gen.py")
    key = hashlib.sha256(open(gen, "rb").read() + json.dumps(SIZES).encode()).hexdigest()[:12]
    out = os.path.join(BUILD, "data", f"seed-{seed}-{key}")
    if not os.path.exists(os.path.join(out, "meta.json")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
        run_group([sys.executable, gen, "--seed", str(seed), "--out", tmp,
                   "--events", str(SIZES["events"]), "--users", str(SIZES["users"]),
                   "--docs", str(SIZES["docs"]), "--vectors", str(SIZES["vectors"])],
                  os.path.join(BUILD, "logs", f"gen-seed{seed}.log"), time.time() + 120, "gen.py")
        os.replace(tmp, out)
    return out


def run_group(cmd, log_path, deadline, what, **popen):
    """Run `cmd` in its own process group, its output in `log_path`; kill the
    group on timeout or when this process is told to stop, and wait for it
    to end. Fails unless it exits 0."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **popen)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{what} stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{what} timed out (log: {log_path})")
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_DFL)
    if rc != 0:
        fail(f"{what} exited {rc} (log: {log_path})")


def java(classpath, main, args, log_path, tmp, deadline):
    os.makedirs(tmp, exist_ok=True)
    run_group(["java", *ADD_OPENS, HEAP, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main,
               *args], log_path, deadline, main)


def bench(a, classes, data, meta, deadline):
    cores = len(os.sched_getaffinity(0))
    classpath = f"{classes}:{os.path.join(spark_jars(), '*')}"
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    out = os.path.join(work, "result.json")
    os.makedirs(work, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores), "--out", out,
                "--events", str(meta["rows"]["events"]),
                "--documents", str(meta["rows"]["documents"]),
                "--embeddings", str(meta["rows"]["embeddings"]),
                "--cut-ms", str(meta["cut_ms"]),
                "--t0-ms", str(int(time.time() * 1000))]
        log = os.path.join(BUILD, "logs", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
        java(classpath, "perfbench.Main", args, log, os.path.join(work, "tmp"), deadline)
        with open(out) as f:
            return cores, json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--oracle", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found (run from a checkout root)")
    spec = json.load(open(spec_path))
    built = build()
    # a build takes the first run's whole allowance: time the rest from here
    start = time.time() if built else STARTED
    classes = classes_dir()
    data = generate(a.seed)
    if a.oracle:
        sys.exit(oracle(a.seed, classes, data))
    if not a.workload:
        fail("--workload is required")
    deadline = start + DEADLINE_S
    meta = json.load(open(os.path.join(data, "meta.json")))
    cores, run = bench(a, classes, data, meta, deadline)
    declared = spec["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in declared:  # in BENCHMARK.json's order
        v = run["metrics"].get(m["name"])
        if v is None and a.trace and "." in m["name"] and \
                not m["name"].startswith(LAYERS[a.workload]):
            v = 0.0
        if v is not None:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if not a.trace:
        metrics["setup_s"] = {"value": run["setup_s"], "unit": "s"}
    attempted, failed = run["attempted"], run["failed"]
    undeclared = sorted(set(run["metrics"]) - {m["name"] for m in declared})
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    artifact = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
        "seconds": a.seconds, "input": meta, "failed_ratio": failed / max(1, attempted),
        "undeclared_metrics": undeclared, "missing_metrics": missing,
        "metrics": metrics, "run": run,
    }
    path = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    for name, m in metrics.items():
        print(f"{a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} failed_ratio = {failed}/{attempted} checks "
          f"({failed / max(1, attempted):.3g}); artifact: {path}")
    if missing:
        print(f"{a.workload}: not measured: {', '.join(missing)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not undeclared and not missing,
                      "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def oracle(seed, classes, data):
    """Verify + DuckDB compare of the matching oracled queries, for one seed."""
    out = os.path.join(BUILD, "oracle", f"seed-{seed}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    classpath = f"{classes}:{os.path.join(spark_jars(), '*')}"
    java(classpath, "graft.Verify", [data, out, *ORACLE_QUERIES],
         os.path.join(BUILD, "oracle", f"verify-seed{seed}.log"),
         os.path.join(BUILD, "oracle", "tmp"), time.time() + 1800)
    rc = subprocess.call([sys.executable, os.path.join(ROOT, "scripts", "check.py"),
                          data, out, *ORACLE_QUERIES])
    print(json.dumps({"oracle_seed": seed, "queries": ORACLE_QUERIES, "passed": rc == 0}))
    return rc


if __name__ == "__main__":
    main()
