#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the repository's main
sources together with the benchmark (sbt, perfbench/build.sbt); later runs
reuse the build until a source file changes. Every metric is printed as
`name value unit`; the last line is the JSON summary
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics of
BENCHMARK.json under --trace 0 and its per-layer metrics under --trace 1.
A JSON detail file (and, traced, the spans as CSV) goes to perfbench/results/.
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
WORKLOADS = ("core_queries", "requests_warm", "stream_gate")
# Scale of the generated tables for core_queries (lineitem: 6e6 x SF rows).
SF = 0.01
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
RUN_TIMEOUT_S = 170


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha1()
    inputs = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation found (set SPARK_HOME)")
    return home


def build(env):
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt") or die("sbt is not on PATH")
    log = os.path.join(HERE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run([sbt, "--batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (log: {log})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as f:
        return f.read().strip()


def oracle_mismatches(tables, check_dir):
    """{query: reason} for every query whose output scripts/selfcheck.py
    (the DuckDB oracle compare) does not pass."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        queries = json.load(f)
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "selfcheck.py"), tables, check_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL, timeout=120)
    passed = {line.split()[1] for line in p.stdout.splitlines() if line.startswith("PASS ")}
    wrong = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[len("FAIL "):].partition(": ")
            wrong[name] = why
    # a query selfcheck did not report (it crashed first) is not checked
    for q in queries:
        if q not in passed and q not in wrong:
            wrong[q] = f"not checked (selfcheck exit {p.returncode}): {p.stderr.strip()[-300:]}"
    return wrong


def expected_names(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        die("BENCHMARK.json not found at the checkout root")
    with open(path) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the repository sources (src/main/scala) are not next to perfbench/")
    names = expected_names(a.trace)
    env = dict(os.environ, SPARK_HOME=spark_home())
    classpath = build(env)

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = os.cpu_count() or 1
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cpus", str(cpus),
            "--out", os.path.join(work, "result.json")]
    tables = os.path.join(work, "tables")
    if a.workload == "core_queries":
        sys.path.insert(0, HERE)
        import gen_tables
        t0 = time.monotonic()
        gen_tables.main(tables, a.seed, SF)
        args += ["--tables", tables, "--prep-s", str(time.monotonic() - t0)]

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp", *JVM_OPENS, "-cp", classpath,
           "perfbench.Main", *args]
    log = os.path.join(work, "jvm.log")
    budget = max(10.0, RUN_TIMEOUT_S - (time.monotonic() - started))
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=budget).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"benchmark JVM failed ({rc}); log: {log}", 1)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    failed, attempted, failures = res["failed"], res["attempted"], list(res["failures"])
    detail = res["detail"]
    if a.workload == "core_queries":
        wrong = oracle_mismatches(tables, detail["check_dir"])
        # every timed run of a query whose output disagrees with the oracle
        # returned a wrong result
        runs = detail["runs_per_query"]
        failed += sum(runs.get(q, 0) for q in wrong)
        failures += [f"oracle mismatch {q}: {why}" for q, why in sorted(wrong.items())]
        detail["oracle_mismatches"] = wrong

    reported = res["per_layer" if a.trace else "end_to_end"]
    missing = [(n, u) for n, u in names if n not in reported or reported[n]["unit"] != u]
    if missing:
        die(f"metrics of BENCHMARK.json not emitted (or with another unit): {missing}", 1)

    for section in ("end_to_end", "per_layer"):
        for n, m in res[section].items():
            print(f"{n} {m['value']!r} {m['unit']}")
    detail["failed_ratio"] = failed / attempted if attempted else 0.0
    print(f"failed_ratio {detail['failed_ratio']!r} ratio")
    for f in failures:
        print(f"failure: {f}")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    detail_path = os.path.join(HERE, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    res.update(failed=failed, failures=failures, detail=detail)
    with open(detail_path, "w") as f:
        json.dump(res, f, indent=1)
    print(f"detail: {os.path.relpath(detail_path, ROOT)}")
    spans = os.path.join(work, "spans.csv")
    if os.path.exists(spans):
        shutil.move(spans, detail_path[:-len(".json")] + "-spans.csv")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": reported[n]["value"], "unit": u} for n, u in names}}))


if __name__ == "__main__":
    main()
