#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload per invocation.

Usage (from the repository root):
  python3 perfbench/run.py --workload <dedup_graph|daily_tick>
      --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the benchmark's own Scala sources
(perfbench/build.sbt, outputs under .bench_build/; Spark's jars come from
$SPARK_HOME/jars), generates the seed's inputs under .bench_work/, runs the
workload in one JVM on local[4], checks every output, and prints as its
last stdout line one JSON object:
  {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics untraced (--trace 0) and the per-layer metrics
traced (--trace 1). A run always measures the same units (one cold, one
warm); --seconds is accepted and does not change them. See
perfbench/NOTES.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

CORES = 4
JVM_HEAP = "3g"
DAYS_GENERATED = 4
DATA = os.path.join(HERE, "data", "sf0.01")
STREAM_DOCS = os.path.join(HERE, "data", "stream", "documents.parquet")
ORACLE = os.path.join(HERE, "oracle")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "scala-2.13", "classes")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=layers.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: engine sources (src/main/scala) not found beside "
                 "perfbench/; run from a full checkout")
    build()

    work = os.path.join(ROOT, ".bench_work",
                        "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(work, ignore_errors=True)
    inp, out = os.path.join(work, "input"), os.path.join(work, "out")
    os.makedirs(inp)
    os.makedirs(out)
    oracle = json.load(open(os.path.join(ORACLE, "counts.json")))
    if a.workload == "daily_tick":
        sizes = gen.gen_daily(a.seed, DAYS_GENERATED, STREAM_DOCS, inp)
    else:
        sizes = gen.gen_order(sorted(oracle), a.seed, inp)

    stamp0 = host_sample()
    wall0 = time.time()
    res, child_cpu = run_jvm(a, inp, out, work)
    wall = time.time() - wall0
    stamp1 = host_sample()
    cond = run_conditions(stamp0, stamp1, wall, child_cpu)

    fails, extra = layers.check(a.workload, res, out, inp, oracle, ORACLE)
    metrics = layers.per_layer(res, out) if a.trace else layers.end_to_end(res)
    ops = res["ops"]
    fails = [(o["unit"] + "/" + o["name"], o["error"]) for o in ops if o["error"]] + fails
    # an op fails once, however many of its checks it failed
    failed = len({k for k, _ in fails})
    attempted = len(ops) + extra
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "inputs": sizes, "conditions": cond, "ops_attempted": attempted,
              "fail_frac": failed / attempted,
              "failures": ["%s: %s" % f for f in fails]}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump({"report": report, "metrics": metrics}, f, indent=1)
    for k, v in metrics.items():
        print("%-34s %14.4f %s" % (k, v["value"], v["unit"]))
    print("run conditions: " + json.dumps(cond))
    print("inputs: " + json.dumps(sizes))
    print("fail_frac: %.4f (%d of %d ops)" % (report["fail_frac"], failed, attempted))
    for msg in report["failures"][:20]:
        print("FAIL " + msg)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


# ------------------------------------------------------------------ build

def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".properties"))]
    return sorted(files)


def build():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "source.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        sys.exit("perfbench: build failed (sbt exit %d), log at %s" % (rc, log))
    with open(stamp, "w") as f:
        f.write(digest)


def spark_home():
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: SPARK_HOME must name a Spark installation")
    return home


# -------------------------------------------------------------------- run

def run_jvm(a, inp, out, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx" + JVM_HEAP, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--data", DATA,
            "--input", inp, "--out", out, "--trace", str(a.trace), "--cores", str(CORES)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                p.kill()
                os.wait4(p.pid, 0)
                sys.exit("perfbench: JVM timed out after %d s (log %s)" % (JVM_TIMEOUT_S, log))
            time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        sys.exit("perfbench: JVM exited with %d (log %s)" % (code, log))
    with open(result) as f:
        return json.load(f), ru.ru_utime + ru.ru_stime


def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    busy = sum(cpu) - cpu[3] - (cpu[4] if len(cpu) > 4 else 0)
    return {"load1": os.getloadavg()[0], "busy_jiffies": busy, "t": time.time()}


def run_conditions(s0, s1, wall, child_cpu):
    """Stamped on every run; nothing is retried or dropped for load."""
    hz = os.sysconf("SC_CLK_TCK")
    ncpu = len(os.sched_getaffinity(0))
    sys_cpu = (s1["busy_jiffies"] - s0["busy_jiffies"]) / hz
    own = child_cpu + time.process_time()
    return {"nproc": ncpu, "local": "local[%d]" % CORES,
            "loadavg1_before": s0["load1"], "loadavg1_after": s1["load1"],
            "external_cpu_share": max(0.0, sys_cpu - own) / (wall * ncpu)}


if __name__ == "__main__":
    main()
