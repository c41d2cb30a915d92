#!/usr/bin/env python3
"""Regenerates perfbench/golden/query_mix.json, the expected output
hashes of the query_mix workload's queries, and cross-checks each
query's output against its DuckDB oracle SQL (SparkEntry.oracleSql)
where one exists.

    python3 perfbench/golden.py

It dumps the listed queries with the engine's own correctness main
(graft.Verify, with a name filter), checks the dump with
tools/check.py, then takes each query's order-insensitive hash with
the harness (perfbench.QueryMix) in the workload's Spark session. A
query that fails the check is not written to the golden file, and the
script exits non-zero.
"""
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def java(cp, work, cores, *args):
    return subprocess.run(["java"] + run.JVM_OPTS + [
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp] + list(args), check=True, cwd=work, text=True,
        stdout=subprocess.PIPE, env=dict(
            os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            SPARK_GRAFT_CPUS=str(cores))).stdout


def main():
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    p = spec["workloads"]["query_mix"]["params"]
    cores = spec["common"]["spark_cores"]
    data = os.path.join(HERE, p["data"])
    with open(os.path.join(HERE, p["list"])) as f:
        names = [q["name"] for q in json.load(f)["queries"]]
    work = os.path.join(run.WORK, "golden")
    dump = os.path.join(work, "verify")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = run.build()
    java(cp, work, cores, "graft.Verify", data, dump, ",".join(names))
    check = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
         dump, data], stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    status = {}
    for ln in check.stdout.splitlines():
        m = re.match(r"(ok|rows|FAIL)\s+(\w+)[: ]", ln)
        if m:
            status[m.group(2)] = m.group(1)
    out = java(cp, work, cores, "perfbench.QueryMix", data,
               ",".join(names), str(cores), work)
    hashes = dict(ln.split() for ln in out.splitlines()
                  if re.fullmatch(r"\w+ [0-9a-f]{64}", ln))
    golden, bad = {}, []
    for n in names:
        s = status.get(n, "FAIL")
        if s == "FAIL" or n not in hashes:
            bad.append(n)
            continue
        golden[n] = {"sha256": hashes[n],
                     "oracle": "ok" if s == "ok" else "none"}
    with open(os.path.join(HERE, p["golden"]), "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    if bad or check.returncode:
        raise SystemExit(f"perfbench: queries failed the check: {bad}")


if __name__ == "__main__":
    main()
