#!/usr/bin/env python3
"""Run one benchmark workload with one seed.

    python3 tracebench/run.py --workload stage0_trace --seed 1 \\
        --seconds 6 --trace 0

Builds the program from source if needed (build.py), runs the workload in
one JVM (graft.bench.Main), checks the set-up outputs against the DuckDB
oracles (oracle.py), prints every metric by name with its unit, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with --trace 1
its per_layer list; a layer the workload does not run reports 0.

Everything it writes stays under .bench_build/ in the checkout.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import build  # noqa: E402
import oracle  # noqa: E402

# a run must end within 180 s; the JVM gets most of that
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def jvm(classes, work, a):
    cp = os.pathsep.join([str(classes), str(build.spark_jars() / "*")])
    cmd = ["java"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work / 'local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        "-cp", cp, "graft.bench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", str(work)]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out


def main():
    # a terminated run still stops its JVM: SystemExit runs the finally
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        sys.exit(f"unknown workload {a.workload}; one of {names}")
    listed = spec["per_layer"] if a.trace else spec["end_to_end"]

    t0 = time.time()
    classes = build.build()
    print(f"build: {time.time() - t0:.1f} s ({classes.parent.name})")

    work = ROOT / ".bench_build" / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True)
    try:
        t1 = time.time()
        code, out = jvm(classes, work, a)
        print(f"jvm: {time.time() - t1:.1f} s")
        lines = out.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if code != 0 or not lines:
            sys.exit(f"benchmark JVM exited with code {code}")
        res = json.loads(lines[-1])
        t1 = time.time()
        checks = (oracle.compare(str(work / "oracle"))
                  if (work / "oracle").is_dir() else [])
        print(f"oracle check, duckdb side: {time.time() - t1:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, ok, detail in checks:
        print(f"oracle {name}: {'PASS' if ok else 'FAIL'} ({detail})")
    failed = res["failed"] + sum(not ok for _, ok, _ in checks)
    attempted = res["attempted"] + len(checks)
    print(f"operations: {attempted} attempted, {failed} failed, "
          f"error rate {failed / attempted:.6f}")

    # the JVM reports bare values; BENCHMARK.json holds every unit
    units = {m["name"]: m["unit"]
             for m in spec["end_to_end"] + spec["per_layer"]}
    got = {**res["end_to_end"], **res["per_layer"]}
    for k, v in got.items():
        print(f"metric {k:<36} {v:.6f} {units.get(k, '(not listed)')}")
    unknown = sorted(set(got) - set(units))
    # plan-node classes depend on the plan Spark picks; other names are fixed
    if any(not k.startswith("stage1.op.") for k in unknown):
        sys.exit(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    idle = []
    for m in listed:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        elif a.trace:
            idle.append(m["name"])
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            sys.exit(f"end-to-end metric {m['name']} was not measured")
    if idle:
        print(f"layers not run by {a.workload} (reported as 0): "
              + " ".join(idle))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
