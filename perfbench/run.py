#!/usr/bin/env python3
"""graft benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds the harness
and graft's main sources with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. The harness runs in one JVM at
local[<cores>]; every file it writes goes under perfbench/work/.

Workloads: stream_ref, batch_short, batch_iterative, table_write (see
perfbench/README.md). The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
WORKLOADS = ["stream_ref", "batch_short", "batch_iterative", "table_write"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the same list as
# graft's build.sbt).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    directory graft's own build takes them from."""
    home = os.environ.get("SPARK_HOME")
    cands = [os.path.join(home, "jars")] if home else []
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        if m:
            cands.append(m.group(1))
    except OSError:
        pass
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("spark-sql_") for f in os.listdir(c)):
            return c
    die("no Spark jars directory found (set SPARK_HOME)")


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(jars):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    env = dict(os.environ, GRAFT_BENCH_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "Compile / products"]
    print("[perfbench] building with sbt", file=sys.stderr)
    rc = run_child(cmd, cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    if rc != 0:
        die(f"build failed (exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest)


def run_child(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives this run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    # a terminated run still stops and waits for its children (run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=0, help="local[n]; default: all usable cores")
    ap.add_argument("--out", default="", help="keep result, spans and rollup in this directory")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("graft sources not found next to perfbench/; run from a graft checkout")
    for p in (DATA, EXPECTED):
        if not os.path.exists(p):
            die(f"missing {os.path.relpath(p, ROOT)}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    jars = spark_jars()
    build(jars)

    shutil.rmtree(WORK, ignore_errors=True)
    tmp, out = os.path.join(WORK, "tmp"), os.path.join(WORK, "out")
    os.makedirs(tmp)
    n = args.cores or cores()
    cmd = ["java", "-Xmx3g"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [
        f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        f"-Dspark.local.dir={os.path.join(WORK, 'local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA, "--expected", EXPECTED, "--work", WORK, "--out", out,
        "--cores", str(n),
    ]
    rc = run_child(cmd, timeout=RUN_TIMEOUT_S, cwd=WORK, stdout=sys.stderr)
    res_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        die(f"harness failed (exit {rc})")
    res = json.load(open(res_path))
    if args.out:
        os.makedirs(args.out, exist_ok=True)
        for f in os.listdir(out):
            shutil.copy(os.path.join(out, f), os.path.join(args.out, f))

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    # a workload BENCHMARK.json does not gate (stream_ref) reports the
    # end-to-end metrics it has
    gated = args.workload in {w["name"] for w in bench["workloads"]}
    metrics = {}
    for m in wanted:
        if m["name"] in source:
            metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
        elif gated or args.trace:
            die(f"metric {m['name']} missing from the harness result")
    for f in res["failures"]:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    print(f"[perfbench] {args.workload} seed {args.seed}: canary {res['detail']['canary_ms']} ms, "
          f"{res['attempted']} attempted, {res['failed']} failed", file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
