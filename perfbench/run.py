#!/usr/bin/env python3
"""graft benchmark: backfill, follow and query workloads.

Run from the repository root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 15 --trace 0

The first run compiles the library (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler shipped in the Spark jars, into
.bench_build/perfbench; later runs reuse the classes while the sources are
unchanged. Each run starts one JVM at local[<cores>], prints a detail line
and, last, one JSON result line with the metrics BENCHMARK.json names
(end-to-end untraced, per-layer traced). A ledger per run goes to
.bench_build/perfbench/ledger.
"""

import argparse
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def from_repo(path, pattern):
    """First group of `pattern` in a repo file, or None."""
    try:
        with open(os.path.join(ROOT, path)) as fh:
            m = re.search(pattern, fh.read())
        return m.group(1) if m else None
    except OSError:
        return None


def spark_jars():
    """The jar directory build.sbt compiles against (its `unmanagedBase`),
    or $SPARK_HOME/jars."""
    jars = from_repo("build.sbt", r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    if "SPARK_HOME" in os.environ or not jars:
        jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars!r}")
    return os.path.join(jars, "*")


def tables_dir():
    """The tables graft.Bench reads: $SPARK_GRAFT_SF_DIR, else its default."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or from_repo(
        os.path.join("src", "main", "scala", "graft", "Bench.scala"),
        r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"') or ""


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(cp, out, srcs):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", spark_jars(), "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out,
           "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        fail(f"compile into {out} failed")


def build():
    """Compile the library, then the benchmark against it; reuse both while
    every source file is byte-identical to the last build."""
    lib = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench = sources(os.path.join(HERE, "src"))
    if not lib:
        fail("no library sources under src/main/scala; run from the repo root")
    if not bench:
        fail("no benchmark sources under perfbench/src")
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    lib_out = os.path.join(BUILD, "classes", "lib")
    bench_out = os.path.join(BUILD, "classes", "bench")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return [bench_out, lib_out]
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    t0 = time.time()
    scalac(spark_jars(), lib_out, lib)
    scalac(lib_out + os.pathsep + spark_jars(), bench_out, bench)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return [bench_out, lib_out]


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found; run from the repo root")
    with open(path) as fh:
        return json.load(fh)


def traced_vs_untraced(ledger, workload, seed, traced_metrics):
    """The traced run's time per unit of work against the untraced run of
    the same workload and seed, when the ledger has one (a cross-check of
    the in-run overhead estimate; one pair of runs, so host noise shows)."""
    base = os.path.join(ledger, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(base):
        return None
    with open(base) as fh:
        untraced = json.load(fh)["result"]["metrics"].get("throughput_per_s")
    traced = traced_metrics.get("throughput_per_s")
    if not untraced or not traced:
        return None
    return untraced / traced - 1.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="query: record result checksums instead of checking")
    a = ap.parse_args()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; choose from {names}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    sf = tables_dir()
    if a.workload == "query" and not os.path.exists(
            os.path.join(sf, "events.parquet")):
        fail(f"query tables not found under {sf!r} (set SPARK_GRAFT_SF_DIR)")

    cp = build()
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    ledger = os.path.join(BUILD, "ledger")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(ledger, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp + [spark_jars()]),
            "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--ledger", ledger,
            "--sf", sf, "--golden", os.path.join(HERE, "query_golden.json"),
            "--record-golden", "1" if a.record_golden else "0"]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {DEADLINE_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    got = result["metrics"]
    if a.trace:
        pair = traced_vs_untraced(ledger, a.workload, a.seed, got)
        if pair is not None:
            detail["detail"]["traced_vs_untraced_frac"] = {
                "value": pair, "unit": "ratio"}
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload never calls
        elif v is None:
            # an end-to-end metric that could not be measured fails the run
            print(f"[perfbench] metric {m['name']} not measured",
                  file=sys.stderr)
            result["correct"] = False
            result["failed"] += 1
            result["attempted"] += 1
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps(detail))
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
