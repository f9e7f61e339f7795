#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_ndv01, lookup_ndv1, curation_ops (see perfbench/README.md).

The first run in a checkout compiles the program (src/main/scala) together
with the harness (perfbench/src/main/scala) with the Scala compiler that
ships in Spark's jars; later runs reuse the classes while the sources are
unchanged. Build output, scratch data and trace artifacts live under
.bench_build/perfbench/ in the checkout; scratch data is deleted at exit.

Human-readable lines go to stdout first; the last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones. The exit
code is non-zero when a call fails or an output is wrong.
"""
import argparse
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_ndv01", "lookup_ndv1", "curation_ops")
MAX_CORES = 4
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: program sources (src/main/scala) not found")
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compile program + harness once per source state; return the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    subprocess.run([java_bin(), "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                    "-classpath", cp, "-d", tmp, "-nowarn", "@" + argfile],
                   check=True, stdout=sys.stderr, timeout=BUILD_LIMIT_S)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def run_harness(classes, jars, args, work, out_json, trace_json):
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed-size heap under the throughput collector: no heap resizing
    # from run to run, so peak RSS follows the live data
    cmd = [java_bin(), *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
           "perfbench.Harness", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), work, str(cores), out_json, trace_json]
    env = dict(os.environ)
    env.pop("GRAFT_ARTIFACT_ROOT", None)  # scratch stays under the work dir
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0:
        raise SystemExit(f"perfbench: harness exited with {code}")


def oracle_failures(work):
    """Compare each curation result with its DuckDB oracle, using the
    repository's own comparison (scripts/check_oracle.py)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        mod.main(os.path.join(work, "data"), os.path.join(work, "oracle"))
    sys.stderr.write(buf.getvalue())
    passed = {l.split()[1] for l in buf.getvalue().splitlines() if l.startswith("PASS ")}
    return {q for q in json.load(open(os.path.join(work, "oracle", "oracle_sql.json")))
            if q not in passed}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # a SIGTERM unwinds through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out_json = os.path.join(work, "result.json")
        trace_json = os.path.join(BUILD, f"trace_{args.workload}_seed{args.seed}.json")
        t0 = time.time()
        run_harness(classes, jars, args, work, out_json, trace_json)
        res = json.load(open(out_json))
        bad = {c["subject"] for c in res["checks"] if not c["ok"]}
        for c in res["checks"]:
            log(f"check {c['name']}: {'ok' if c['ok'] else 'WRONG'} ({c['detail']})")
        if args.workload == "curation_ops":
            bad |= oracle_failures(work)
        log(f"{res['passes']} timed passes, {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(res["attempted"].values())
    failed = sum(n if s in bad else res["failed"].get(s, 0) for s, n in res["attempted"].items())
    correct = failed == 0 and not bad
    e2e = res["end_to_end"]
    shown = dict(e2e)
    shown["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
    shown.update(res["figures"])
    for name, m in sorted(shown.items()):
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if args.trace:
        print(f"trace spans: {os.path.relpath(trace_json, ROOT)}")
    metrics = res["per_layer"] if args.trace else e2e
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
