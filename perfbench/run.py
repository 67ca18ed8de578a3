#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload algebra|corpus --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the harness (perfbench/build.sbt,
which depends on the library's own build) once per source state, starts
one JVM with one Spark session at local[nproc] over the sf0.1 fixture
tables in perfbench/data, checks every query's output against the
DuckDB oracle (tools/check_oracle.py), and prints one JSON record per
line; the last line is the summary: correct, attempted and failed op
executions, and the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1).
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import benchlib  # noqa: E402

DEADLINE_S = 170.0          # the whole run, build excluded
ORACLE_RESERVE_S = 15.0     # kept back from the JVM for the oracle check (it takes 3-5 s)
BUILD_TIMEOUT_S = 850.0
HEAP = ["-Xmx3g"]   # no -Xms: the committed heap, and so the peak RSS, follows demand

# Spark's own JDK 17 module options (org.apache.spark.launcher.JavaModuleOptions),
# needed when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

REQUIRED = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def load_classpath(snap):
    """The classpath recorded in a build snapshot, or None if it is incomplete.
    Entries inside the checkout are stored relative to it."""
    try:
        with open(os.path.join(snap, "classpath.txt")) as f:
            entries = [e if os.path.isabs(e) else os.path.join(ROOT, e)
                       for e in f.read().strip().split(os.pathsep)]
    except OSError:
        return None
    return os.pathsep.join(entries) if all(os.path.exists(e) for e in entries) else None


def build(build_dir):
    """Compile library + harness with sbt once per source state; return the classpath.

    sbt compiles into target/ directories that every build of the tree
    shares (a build of another commit, or the library's own tests,
    overwrite them). So after a build the class directories are copied
    into a snapshot named after the source stamp, and the classpath
    recorded there points at the copies, relative to the checkout."""
    stamp = source_stamp()
    snap = os.path.join(build_dir, f"build-{stamp}")
    cp = load_classpath(snap)
    if cp:
        return cp
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_GRAFT_TMPDIR="system")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export perfbench/Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if rc != 0 or os.pathsep not in cp or "perfbench" not in cp:
        fail(f"build failed (rc={rc}), see {log}")
    tmp = snap + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(snap, ignore_errors=True)
    os.makedirs(tmp)
    entries, root = [], os.path.realpath(ROOT)
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.exists(e) and os.path.commonpath([os.path.realpath(e), root]) == root:
            name = f"entry-{i}" + os.path.splitext(e)[1]
            (shutil.copytree if os.path.isdir(e) else shutil.copy2)(e, os.path.join(tmp, name))
            e = os.path.relpath(os.path.join(snap, name), ROOT)
        entries.append(e)
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write(os.pathsep.join(entries))
    os.rename(tmp, snap)
    return load_classpath(snap)


def check_fixtures(data):
    for table, digest in benchlib.WORKLOADS["fixtures"].items():
        p = os.path.join(data, f"{table}.parquet")
        if not os.path.exists(p):
            fail(f"missing fixture {p}")
        with open(p, "rb") as f:
            if hashlib.sha256(f.read()).hexdigest() != digest:
                fail(f"fixture {p} does not match its recorded digest")


def run_jvm(cp, args, run_dir, timeout_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + HEAP + ["-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f"JVM exited with {rc}")


def oracle_check(data, dump, queries, timeout_s):
    """tools/check_oracle.py over the warm-up dump: {query: ok}."""
    proc = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                           data, dump] + queries, capture_output=True, text=True,
                          timeout=timeout_s, stdin=subprocess.DEVNULL)
    ok = {q: False for q in queries}
    for line in proc.stdout.splitlines():
        if line.startswith("[ OK ] "):
            ok[line[7:].split(" ")[0]] = True
        elif line.startswith("["):
            print(f"perfbench: oracle: {line}", file=sys.stderr)
    return ok


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(benchlib.WORKLOADS["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail(f"not a checkout of the library (missing {', '.join(missing)})")
    if not shutil.which("java") or not shutil.which("sbt"):
        fail("java and sbt must be on PATH")
    wl = benchlib.WORKLOADS["workloads"][a.workload]
    data = os.path.join(HERE, "data", f"sf{benchlib.SF}")
    check_fixtures(data)

    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    pre_build_s = time.monotonic() - t_start
    cp = build(build_dir)

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        budget = DEADLINE_S - ORACLE_RESERVE_S - pre_build_s
        t_jvm = time.monotonic()
        run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(cpus), data,
                     run_dir, ",".join(wl["queries"])], run_dir, budget)
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
        t_oracle = time.monotonic()
        oracle = oracle_check(data, os.path.join(run_dir, "dump"), wl["queries"], ORACLE_RESERVE_S - 5)
        t_end = time.monotonic()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    key = {"sf": benchlib.SF, "cpus": cpus, "seed": a.seed, "workload": a.workload, "trace": a.trace}

    def emit(record, **fields):
        print(json.dumps(dict(record=record, **key, **fields)), flush=True)

    emit("setup", **result["setup"],
         harness_s={"before_jvm": t_jvm - t_start, "jvm": t_oracle - t_jvm, "oracle": t_end - t_oracle})
    for p in result["passes"]:
        emit("pass", idx=p["idx"], traced=p["traced"], wall_s=p["wall_s"], ops_wall_s=p["ops_wall_s"],
             cpu_s=p["cpu_s"], heap_live_mb=p["heap_live_mb"],
             steal_s=p["steal_s"], jobs=p["spark"]["jobs"], stages=p["spark"]["stages"],
             tasks=p["spark"]["tasks"], ops=[[o["q"], o["wall_s"]] for o in p["ops"]])
    emit("reference", queries=result["reference"], oracle=oracle)
    emit("counters", **benchlib.counter_repeat(result))
    metrics, e2e = benchlib.end_to_end(result)
    emit("e2e", **e2e, host=result["host"])

    ops = benchlib.ops_of(result["passes"])
    failed = sum(1 for o in ops if not o["ok"])
    correct = failed == 0 and all(oracle.values())
    if a.trace:
        values, checks = benchlib.per_layer(result)
        table = benchlib.layer_table(result["spans"])
        for row in table:
            print(f"{row['layer']:<22} spans={row['spans']:<5} total_s={row['total_s']:9.3f} "
                  f"self_s={row['self_s']:9.3f}", file=sys.stderr)
        emit("layers", rows=table)
        if result["chain"]:
            emit("chain", runs=[[c["layer"], c["round"], c["wall_s"], c["rows_out"]]
                                for c in result["chain"]])
            ref = result["reference"].get(benchlib.CHAIN_QUERY, {}).get("fp")
            checks["chain_matches_query"] = all(c["fp"] == ref for c in result["chain"]
                                                if c["layer"] in ("pack", benchlib.CHAIN_QUERY))
            correct = correct and checks["chain_matches_query"]
        emit("trace_checks", **checks)
        units = benchlib.per_layer_units()
    else:
        values, units = metrics, benchlib.E2E_UNITS
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": benchlib.metric_block(values, units)}), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
