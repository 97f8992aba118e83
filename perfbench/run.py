#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the driver from source,
runs one workload in a fresh JVM and prints every metric by name with
its unit, then one JSON result line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 7 --trace 0

Run from the repository root. Exits nonzero if the build fails, the run
fails, or any output check fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
WORKLOADS = ("curate", "materials", "lake")
ENGINE_SOURCES = ("build.sbt", os.path.join("src", "main", "scala", "graft", "api", "Graft.scala"))
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these module opens (the same
# list as the engine build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# The metric names the driver reads, with their units.
SPEC = os.path.join(ROOT, "BENCHMARK.json")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, files in os.walk(top) for f in files)
        for p in paths:
            rel = os.path.relpath(p, ROOT)
            if "target" in rel.split(os.sep):
                continue
            h.update(rel.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the driver with sbt once per source state
    and returns the runtime classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
            opts.insert(0, "-Dsbt.override.build.repos=true")
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines()
             if l.startswith("/") and os.pathsep in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    return lines[-1]


def run_jvm(cp, args, work, log_path):
    """Runs the driver; returns (stdout, exit code, peak RSS in MB).
    A run past RUN_TIMEOUT_S is killed and fails."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, stdin=subprocess.DEVNULL, text=True)
        timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
        timer.start()
        try:
            out = proc.stdout.read()
            # wait4 gives this child's own peak RSS (the build's sbt JVM
            # is a different child and must not count)
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
    return out, os.waitstatus_to_exitcode(status), usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    missing = [s for s in ENGINE_SOURCES + ("BENCHMARK.json",)
               if not os.path.exists(os.path.join(ROOT, s))]
    if missing:
        fail(f"engine sources not found: {', '.join(missing)}")
    cp = build()

    work = os.path.join(BENCH, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        out, code, rss_mb = run_jvm(cp, [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out_dir], work, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            res = json.loads(line[len("PERFBENCH_RESULT "):])
    if code != 0 or res is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"driver failed (exit {code}); log: {log_path}")
    res["info"] += [
        {"name": "run_cpu_s", "value": res["run_cpu_s"], "unit": "s",
         "note": "Java-thread CPU per timed pass, median; not gated, see README"},
        {"name": "peak_rss_mb", "value": rss_mb, "unit": "MB",
         "note": "JVM resident set; not gated, see README"}]
    with open(SPEC) as fh:
        spec = json.load(fh)
    report(res, a.trace == 1, spec)
    if res["failed"] > 0:
        sys.exit(1)


def fmt(v, spec=".6g"):
    """A measured number; a run cut short by a failure reports null."""
    return "n/a" if v is None else format(v, spec)


def report(res, traced, spec):
    w = res["workload"]
    print(f"# workload {w} seed {int(res['seed'])} passes {int(res['passes'])}"
          f" env.calib_ms {res['calib_ms']:.1f}")
    for kv in res["inputs"]:
        print(f"input {kv['name']} = {kv['value']}")
    print(f"setup session_s={fmt(res['session_s'], '.3f')} prep_s="
          + ",".join(fmt(x, ".3f") for x in res["prep_s"])
          + f" warmup_s={fmt(res['warmup_s'], '.3f')}")
    print("passes_s=" + ",".join(fmt(x, ".3f") for x in res["pass_s"]))
    print("passes_cpu_s=" + ",".join(fmt(x, ".3f") for x in res["pass_cpu_s"]))
    for c in res["checks"]:
        print(f"check {'PASS' if c['ok'] else 'FAIL'} {c['name']} ({c['detail']})")
    for m in spec["end_to_end"]:
        print(f"metric {m['name']} = {fmt(res[m['name']])} {m['unit']}")
    for i in res["info"]:
        note = f"  ({i['note']})" if i["note"] else ""
        print(f"metric {w}.{i['name']} = {fmt(i['value'])} {i['unit']}{note}")
    failed_frac = res["failed"] / res["attempted"]
    print(f"metric failed_frac = {failed_frac:.6g} ratio"
          f"  ({int(res['failed'])} of {int(res['attempted'])})")
    if traced:
        print(f"trace run_s untraced={fmt(res['run_s'], '.4f')}"
              f" traced={fmt(res['traced_run_s'], '.4f')}"
              f" overhead_s={fmt(res['trace_overhead_s'], '.4f')}"
              f" unattributed_jobs={int(res['unattributed_jobs'])}"
              f" spans={res['spans_file']}")
        for s in res["spans"]:
            print(f"span {s['name']} self_ms={fmt(s['self_ms'], '.1f')}"
                  f" share_of_run={fmt(s['share_of_run'], '.4f')} calls={int(s['calls'])}")
        layer = res["per_layer"]
        for k, v in layer.items():
            print(f"layer {k} = {fmt(v)} {layer_unit(k)}")
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def layer_unit(name):
    counter = name.rsplit(".", 1)[1]
    return {"wall_ms": "ms", "driver_ms": "ms", "exec_cpu_ms": "ms",
            "calib_ms": "ms", "jobs": "count", "shuffle_bytes": "bytes",
            "spill_bytes": "bytes", "bytes_written": "bytes",
            "task_skew": "ratio", "true_pair_frac": "ratio"}[counter]


if __name__ == "__main__":
    main()
