#!/usr/bin/env python3
"""perfbench: the repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--raw <file>]

Run from the root of a checkout. The first run builds the harness and
the engine from source with sbt (perfbench/build.sbt); later runs reuse
that build while the sources are unchanged. A run makes its inputs from
the seed, measures whole cycles of the workload for about --seconds,
checks every output, and prints one JSON line as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. --raw keeps the run's raw record (ops, spans, jobs).

Workloads, parameters and seeds are in perfbench/workloads.json; the
metric definitions are in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

RUN_TIMEOUT_S = 170
# nodelay: the stub answers without waiting on delayed ACKs;
# -UsePerfData: the JVM writes no hsperfdata file outside the checkout
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dsun.net.httpserver.nodelay=true"] + [
    opt for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar")
    for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness with the engine; returns the run classpath."""
    stamp = os.path.join(WORK, "build.json")
    fp = sources_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            b = json.load(f)
        if b.get("fingerprint") == fp:
            return b["classpath"]
    log("building the harness and the engine (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    # no JVM the build starts writes an hsperfdata file outside the checkout
    env["JAVA_TOOL_OPTIONS"] = (
        env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    # `export` prints the classpath as one bare line among sbt's log
    cps = [ln.strip() for ln in proc.stdout.splitlines()
           if not ln.startswith("[") and "scala-library" in ln]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = cps[-1]
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def harness(args, classpath, params):
    """Runs one workload in a fresh JVM; returns its raw record."""
    work = os.path.join(WORK, f"run-{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    pfile = os.path.join(work, "params.json")
    with open(pfile, "w") as f:
        json.dump(params, f)
    out = os.path.join(work, "raw.json")
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", classpath,
        "perfbench.Main", "--workload", args.workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--params", pfile,
        "--out", out, "--bench", HERE]
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir; keep its scratch
    # files inside the run's work directory either way
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: stopped")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: the harness exited with {code}")
    with open(out) as f:
        raw = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also write the raw record here")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no engine sources beside perfbench/ "
                         "(run from the root of a full checkout)")
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    params = dict(spec["common"], **spec["workloads"][args.workload]["params"])
    raw = harness(args, build(), params)
    if args.raw:
        with open(args.raw, "w") as f:
            json.dump(raw, f)
    log("phases (ms): " + ", ".join(
        f"{k} {v:.0f}" for k, v in raw["phase_ms"].items()))
    attempted, failed, correct = metrics.failures(raw)
    for c in raw["final_checks"]:
        if not c["ok"]:
            log(f"check failed: {c['name']}: {c['detail']}")
    if args.trace:
        values = metrics.per_layer(raw)
        out = {k: {"value": v, "unit": metrics.unit_of(k)}
               for k, v in values.items()}
    else:
        values, info = metrics.end_to_end(raw)
        log(f"{info['op_samples']} ops; tail (highest percentile with 10 "
            f"samples beyond) p{info['op_tail_percentile'] * 100:g} = "
            f"{info['op_tail_ms']:.1f} ms")
        out = {k: {"value": v, "unit": metrics.E2E_UNITS[k]}
               for k, v in values.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
