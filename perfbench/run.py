#!/usr/bin/env python3
"""spark-graft benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/NOTES.md):
  registry_sf0.001  registry sample on ~6k-row tables: construction, Catalyst
                    and scheduling dominate
  registry_sf0.1    registry sample on ~600k-row tables, after shared builds:
                    execution dominates
  cdc_stream        open-loop CDC stream: Avro decode + JDBC upsert landing
                    and three streaming twins

The first run in a checkout builds the engine plus the harness with sbt
(perfbench/build.sbt) and generates the registry tables; both are cached
under perfbench/.work/. Every run gets its own scratch directory there
(warehouse, Spark local dirs, tmp, checkpoints, Derby), deleted at the end.
The last stdout line is the result JSON; with --trace 1 the per-layer
metrics are printed and the full layer file is written to perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
JVM_TIMEOUT_S = 165
JVM_HEAP = "4g"
SCALES = {"registry_sf0.001": 0.001, "registry_sf0.1": 0.1}
WORKLOADS = list(SCALES) + ["cdc_stream"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every source file the harness build compiles."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(base):
            paths = [base]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(base)
                           for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group if it times
    out or if this process is interrupted. Returns the exit code, or
    "timeout"."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return "timeout"
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    log("building engine + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as logf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false",
                        "compile", "export Runtime/fullClasspath"],
                       800, cwd=BENCH, env=env, stdout=logf, stderr=subprocess.STDOUT)
    with open(log_path) as f:
        out = f.read()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def ensure_tables(sf):
    """Generate the registry tables for scale sf once per checkout."""
    import gen_tables
    d = os.path.join(WORK, "data", f"sf{sf}")
    marker = os.path.join(d, ".complete")
    gen_src = os.path.join(BENCH, "gen_tables.py")
    with open(gen_src, "rb") as f:
        want = hashlib.sha256(f.read()).hexdigest()
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == want:
                return d
    shutil.rmtree(d, ignore_errors=True)
    log(f"generating registry tables at sf{sf}")
    gen_tables.generate(d, sf)
    with open(marker, "w") as f:
        f.write(want)
    return d


def run_jvm(cp, args, run_dir, cpus):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    cmd = [java]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dspark.local.dir={run_dir}/local",
            "-cp", cp, "graft.perfbench.Main", "--cpus", str(cpus)] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=run_dir, env=env, stdout=logf,
                       stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        sys.stderr.write(tail)
        raise RuntimeError(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] worker threads (default: all cores)")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    data = None
    if a.workload in SCALES:
        data = ensure_tables(SCALES[a.workload])
        jvm_args += ["--data", data]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    try:
        run_jvm(cp, jvm_args + ["--run-dir", run_dir, "--out", raw_path],
                run_dir, a.cpus)
        with open(raw_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if a.workload in SCALES:
        expected = oracle.counts(data, raw["oracle_sql"], os.path.join(WORK, "oracle"))
        res = layers.registry(raw, expected, a.trace == 1)
    else:
        res = layers.cdc(raw, a.trace == 1)
    if a.trace == 1:
        os.makedirs(OUT, exist_ok=True)
        path = os.path.join(OUT, f"layers-{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "seconds": a.seconds, "cpus": a.cpus,
                       "metrics": res["per_layer"], "detail": res["detail"],
                       # the key of every generated change is reproducible
                       # from the seed, and 60k of them would swamp the file
                       "raw": {k: v for k, v in raw.items() if k != "distinct_keys"}},
                      f, indent=1)
        log(f"layer file: {os.path.relpath(path, ROOT)}")
        metrics = res["per_layer"]
    else:
        metrics = res["end_to_end"]
    for k, v in res["failures"].items():
        log(f"FAILED {k}: {v}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
