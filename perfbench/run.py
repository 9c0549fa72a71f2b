#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result as one JSON line.

    python3 perfbench/run.py --workload etl_dropfolder --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources and the harness under perfbench/scala with the Scala compiler that
ships in the Spark jars directory, into .bench_build/ (or $CARGO_TARGET_DIR);
later runs reuse the classes while the sources are unchanged. Each run gets
a fresh JVM and a private scratch directory, removed afterwards; the full
result (named metrics, drift anchor, boot fingerprint, layer table) and, for
traced runs, the spans are kept under .bench_build/perfbench/results/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_dropfolder", "curation", "event_replay")
# Spark 4 on JDK 17 outside spark-submit needs the module opens spark-submit adds.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
# A fixed, pre-touched heap: a heap that grows during the run pays first-touch
# page faults inside the timed region and makes the RSS high-water mark swing
# with G1's sizing; pre-touched, both stay steady and RSS tracks native memory.
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
E2E = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s", "op_tail_s": "s",
       "items_per_s": "1/s"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt names."""
    dirs = [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else []
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return sorted(glob.glob(os.path.join(d, "*.jar")))
    die("no Spark jars directory found (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    if not main:
        die(f"no graft sources under {root}/src/main/scala; run from a graft checkout")
    if not harness:
        die("no harness sources under perfbench/scala")
    return main + harness


def build(root, build_root, jars):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    classes = os.path.join(build_root, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".ok")):
        return classes
    os.makedirs(build_root, exist_ok=True)
    with open(os.path.join(build_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(classes, ".ok")):
            return classes
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(build_root, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
               "-nowarn", "-classpath", ":".join(jars), "-d", tmp, "@" + argfile]
        log = os.path.join(build_root, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(cmd, stdout=out, stderr=subprocess.STDOUT)
        if rc != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"compilation failed (exit {rc}), see {log}")
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, tmp, dirs_exist_ok=True)
        open(os.path.join(tmp, ".ok"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
    return classes


def cores():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(n, 4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                    help="tamper with one output before the checks (self-test)")
    a = ap.parse_args()

    root = os.getcwd()
    if shutil.which("java") is None:
        die("java not found on PATH")
    jars = spark_jars(root)
    target = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_root = os.path.join(root, target, "perfbench")
    classes = build(root, build_root, jars)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(build_root, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(build_root, "results")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(results, exist_ok=True)
    out_json = os.path.join(run_dir, "result.json")
    n = cores()
    cmd = (["java"] + HEAP + ["-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + ":" + os.path.dirname(jars[0]) + "/*", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--dir", run_dir, "--cores", str(n),
              "--corrupt", str(a.corrupt), "--out", out_json,
              "--t0-us", str(time.time_ns() // 1000)])
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"{tag}: the run exceeded {RUN_LIMIT_S} s")
        if not os.path.isfile(out_json):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"{tag}: the JVM exited with {proc.returncode} and wrote no result")
        with open(out_json) as f:
            res = json.load(f)
        if "error" in res:
            die(f"{tag}: {res['error']}")
        if a.workload == "curation":
            import check_curation
            failed = set(res["failed_ops"])
            for op, msg in check_curation.check(run_dir):
                res["failures"].append(msg)
                failed.add(op)
            res["failed_ops"] = sorted(failed)
            res["failed"] = len(failed)
        res["error_rate"] = res["failed"] / max(1, res["attempted"])
        with open(os.path.join(results, tag + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        if a.trace and os.path.isfile(os.path.join(run_dir, "spans.jsonl")):
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(results, tag + ".spans.jsonl"))
            with open(os.path.join(results, tag + ".layers.md"), "w") as f:
                f.write(layer_table(res["layer_table"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for msg in res["failures"][:10]:
        print(f"FAILED {msg}", file=sys.stderr)
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["per_layer"].items()}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u} for k, u in E2E.items()}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


def layer_table(rows):
    """The traced run's layer table as markdown, one row per layer or span name."""
    cols = ["calls", "wall_s", "self_s", "jobs", "actions", "plan_s", "task_s", "driver_gap_s",
            "executor_busy_share", "shuffle_write_mb", "catalog_ddl", "bound"]
    out = ["| name | " + " | ".join(cols) + " |", "|---" * (len(cols) + 1) + "|"]
    for r in rows:
        cells = [f"{r[c]:.3f}" if isinstance(r[c], float) else str(r[c]) for c in cols]
        out.append(f"| {r['name']} | " + " | ".join(cells) + " |")
    return "\n".join(out) + "\n"


def unit_of(key):
    if key.endswith("_mb"):
        return "MB"
    if key.endswith(("_s", "_s_per_file")):
        return "s"
    if key.endswith(("share", "skew")) or key == "trace.coverage":
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
