#!/usr/bin/env python3
"""The repository benchmark: one command per run.

    python3 perfbench/run.py --workload bulk_extract|scan_ocr \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
JVM harness from source with sbt (offline, with the Spark jars the root
build uses) into perfbench/.build; later runs reuse that build while the
sources hash the same. All scratch lives in perfbench/.work.

The JVM side (perfbench/src) runs the workload in one local[CORES] Spark
session and writes raw samples; this script adds the DuckDB oracle gate for
the dedup queries of scan_ocr's traced run, prints one report line (run
context, every timed series with median, quartiles and sample count, every
check) and, last, the result line
`{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. A failed check exits 1.
"""
import argparse
import glob
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
import report  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
# One core fewer than the box has, at most four: the spare core runs the JIT
# compiler, the collector and the driver, so that they do not take turns with
# the Spark tasks; with every core busy, pass times spread far wider.
CORES = max(1, min(4, (os.cpu_count() or 4) - 1))
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, program and harness."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    return files


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the built harness; builds when the sources changed."""
    for f in sources()[:4]:
        if not os.path.isfile(f):
            fail(f"missing {os.path.relpath(f, ROOT)}: run from a full checkout of the repository")
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "**", "*.scala"),
                     recursive=True):
        fail("missing the program sources under src/main/scala")
    digest = source_hash()
    stamp = os.path.join(BUILD, "stamp.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s["sources"] == digest and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"], digest
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                           text=True, timeout=BUILD_TIMEOUT_S)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "[error]" in r.stdout:
        fail(f"build failed, see {os.path.relpath(log, ROOT)}")
    classpath = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    return classpath, digest


def jvm(classpath, args, out):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--work", WORK, "--out", out, "--cores", str(CORES)] + args)
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=JVM_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(out):
        with open(log) as fh:
            tail = fh.read()[-4000:]
        fail(f"JVM harness exited {r.returncode}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def fresh_work():
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=report.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not os.path.isfile(SPEC):
        fail("BENCHMARK.json not found at the checkout root")
    with open(SPEC) as fh:
        spec = json.load(fh)
    report.validate_benchmark(spec)
    classpath, digest = build()
    fresh_work()
    out = os.path.join(WORK, "result.json")
    if a.selftest:
        sys.exit(selftest(classpath, out))

    doc = jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace)], out)
    t = time.time()
    checks = doc["checks"] + (report.oracle_checks(doc["oracle"]) if "oracle" in doc else [])
    doc["oracle_s"] = time.time() - t
    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    if a.trace:
        metrics = report.per_layer(doc, [m["name"] for m in spec["per_layer"]])
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = report.end_to_end(doc)
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if set(metrics) != set(units):
            fail(f"end-to-end metrics {sorted(metrics)} != BENCHMARK.json {sorted(units)}")
    context = {k: doc[k] for k in ("workload", "seed", "trace", "cores", "nproc", "max_heap_mb",
                                   "docs_in", "bytes_in", "load_avg_start", "load_avg_end",
                                   "replicas", "session_s", "cold_setup", "warm_passes_s", "setup_rounds",
                                   "oracle_s", "heap_peak_mb")
               if k in doc}
    context.update(git_commit=git_commit(), source_hash=digest,
                   failed_frac=failed / attempted if attempted else 1.0)
    print(json.dumps({"context": context, "figures": report.workload_figures(doc),
                      "samples": doc["samples"], "layers": doc["layers"], "checks": checks}))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    print(json.dumps(result))
    shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


def selftest(classpath, out):
    """Python unit tests, then the JVM gates on correct and broken output."""
    import unittest
    suite = unittest.defaultTestLoader.discover(os.path.join(HERE, "tests"))
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    doc = jvm(classpath, ["--selftest"], out)
    o = doc["oracle_selftest"]
    con = report.documents_db(o["documents"])
    for case, should_fail in (("whole", False), ("one_pair_dropped", True)):
        passed, detail = report.oracle_compare(con, o["sql"], o[case])
        doc["selftest"].append({"case": f"dedup oracle gate ({o['query']}), {case}",
                                "failed": 0 if passed else 1, "detail": detail,
                                "ok": passed != should_fail})
    for c in doc["selftest"]:
        print(f"{'ok  ' if c['ok'] else 'FAIL'} {c['case']}: failed={c['failed']} ({c['detail']})")
        ok = ok and c["ok"]
    shutil.rmtree(WORK, ignore_errors=True)
    print("selftest:", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    main()
