#!/usr/bin/env python3
"""Benchmark entry point for the graft CDC relay and its services.

Usage (from the repository root):

    python3 perfbench/run.py --workload relay --seed 1 --seconds 8 --trace 0

Builds the program and the benchmark harness from source, runs one JVM for
the workload, and prints as its LAST stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before carries diagnostics: the workload's own named metrics,
error_rate, the output checks and the box's contention (load, CPU steal)
around the run. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

def spark_home():
    """$SPARK_HOME, else the first Spark installation with a jars/ directory
    whose `bin/spark-submit` is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.exists(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("perfbench: set SPARK_HOME or put a Spark installation's spark-submit on PATH")


SPARK_JARS = os.path.join(spark_home(), "jars")
WORKLOADS = ("relay", "curate_serve")
# a run must end within 180 s; the first run of a workload in a checkout
# also dumps its class-data-sharing archive and may take longer
JVM_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala "
                         "(run from the root of a full checkout)")
    if not bench:
        raise SystemExit("perfbench: harness sources under perfbench/src are missing")
    return prog, bench


def build():
    """Compile program + harness once per source state into one jar, and
    pack both resource trees into another; returns the build directory."""
    prog, bench = sources()
    resources = [os.path.join(ROOT, "src", "main", "resources"), os.path.join(HERE, "resources")]
    h = hashlib.sha256()
    for p in prog + bench + sorted(glob.glob(os.path.join(resources[1], "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(prog + bench) + "\n")
    log(f"compiling {len(prog)} program + {len(bench)} harness sources")
    t0 = time.time()
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                        "-d", os.path.join(tmp, "classes.jar"), "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (scalac exit {r.returncode})")
    # resources go in a jar too: a class-data-sharing archive accepts only
    # jars on the class path
    with zipfile.ZipFile(os.path.join(tmp, "resources.jar"), "w") as z:
        for d in resources:
            for p in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
                if os.path.isfile(p):
                    z.write(p, os.path.relpath(p, d))
    open(os.path.join(tmp, ".ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return out


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def heap_mb():
    """At most half of RAM (the box is shared), and no more than 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(1024, min(kb // 2048, 4096))


def die_with_parent():
    """Runs in the JVM's child process before exec: the kernel kills the
    JVM if this runner dies first, so no run outlives its runner."""
    import ctypes
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, 9)  # PR_SET_PDEATHSIG, SIGKILL


def run_jvm(build_dir, a, cores, heap, scratch, reference):
    """One benchmark JVM. The first run of a workload in a build dumps the
    classes it loaded into a class-data-sharing archive; later runs map it,
    which takes most of the JVM and Spark start-up off every run."""
    os.makedirs(scratch)
    result = os.path.join(scratch, "result.json")
    archive = os.path.join(build_dir, f"{a.workload}.jsa")
    dump = f"{archive}.{os.getpid()}.tmp"
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd.append(f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
               else f"-XX:ArchiveClassesAtExit={dump}")
    cmd += [f"-Xmx{heap}m", "-XX:+UseG1GC", "-Xshare:auto", "-Xlog:cds*=off",
            "-Dspark.callstack.depth=200",
            f"-Djava.io.tmpdir={scratch}",
            "-cp", os.pathsep.join([os.path.join(build_dir, "classes.jar"),
                                    os.path.join(build_dir, "resources.jar"),
                                    os.path.join(SPARK_JARS, "*")]),
            "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(cores),
            "--root", scratch, "--result", result]
    if reference is not None:
        cmd += ["--reference", repr(reference)]
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        cmd += ["--spans", os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.jsonl")]
    # a fixed local host name: resolving the machine's own name can stall
    # Spark's start-up for seconds on a box without DNS
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    timeout = JVM_TIMEOUT_S if os.path.exists(archive) else FIRST_RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            preexec_fn=die_with_parent)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: {a.workload} JVM exceeded {timeout} s")
    finally:
        if os.path.exists(dump):
            os.replace(dump, archive)
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: {a.workload} JVM failed (exit {rc})")
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = build()
    nproc = len(os.sched_getaffinity(0))
    heap = heap_mb()
    runs = os.path.join(BUILD, "runs")
    scratch = os.path.join(runs, f"{a.workload}-{os.getpid()}-{int(time.time() * 1000)}")
    env = {"env.nproc": nproc, "env.heap_mb": heap, "env.load1_before": load1()}
    tot0, steal0 = cpu_times()
    # untraced throughputs of earlier runs in this checkout: the traced run
    # reports its gap to their median as trace.overhead_pct
    history = os.path.join(BUILD, f"untraced-{a.workload}.txt")
    past = []
    if os.path.exists(history):
        with open(history) as f:
            past = sorted(float(x) for x in f.read().split())
    reference = past[len(past) // 2] if a.trace and past else None
    try:
        res = run_jvm(build_dir, a, nproc, heap, scratch, reference)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if not a.trace and res["correct"]:
        with open(history, "a") as f:
            f.write(f"{res['metrics']['throughput_per_s']['value']}\n")
    tot1, steal1 = cpu_times()
    env["env.load1_after"] = load1()
    env["env.steal_pct"] = 100.0 * (steal1 - steal0) / max(1, tot1 - tot0)

    diag = dict(res["diag"], **env)
    diag["error_rate"] = res["failed"] / res["attempted"]
    print(json.dumps({"workload": a.workload, "seed": a.seed, "diagnostics": diag,
                      "checks": res["checks"]}, sort_keys=True))
    if a.trace:
        # every per-layer metric, 0 where the workload has no such layer
        layers = dict(res["layers"], **env)
        print(json.dumps({"other_layers": {k: v for k, v in sorted(layers.items())
                                           if k not in {m["name"] for m in spec["per_layer"]}}}))
        metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: res["metrics"][m["name"]] for m in spec["end_to_end"]}
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
