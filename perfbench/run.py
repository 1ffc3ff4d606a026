#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client per run, local[4].

    python3 perfbench/run.py --workload interactive|curate_ingest
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It compiles the engine (src/main/scala)
and the harness (perfbench/src) with the Scala compiler that ships in
the Spark jars, generates the workload's inputs from the seed, runs one
JVM (perfbench.Main) and prints every metric by name with its unit. The
last line of standard output is the result object: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Everything it builds
or writes stays under .bench_build/ in the checkout.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload (the seed changes values, never these).
PROFILES = {
    "interactive": dict(sf=0.05, docs=10, vecs=2000,
                        only=["events", "embeddings", "orders", "lineitem"]),
    # one embedding per document, so every tick has embedded survivors
    "curate_ingest": dict(sf=0.001, replicas=10, mutate=0.05, docs=240,
                          vecs=240, only=["documents", "embeddings"]),
    # not a benchmark workload: one op works, one throws (test_metrics.py)
    "selftest": dict(sf=0.0001, docs=10, vecs=10, only=[]),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DEADLINE_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("set SPARK_HOME to a Spark whose jars include the Scala compiler")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from a checkout")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"),
                           recursive=True))
    return main + own


def build(root, build_dir):
    """Compile engine + harness into build_dir/classes, unless the
    sources are unchanged since the last build."""
    srcs = sources(root)
    os.makedirs(build_dir, exist_ok=True)
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.stamp")
    classes = os.path.join(build_dir, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    scalac = ":".join(sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
                             + glob.glob(os.path.join(jars, "scala-library-*.jar"))
                             + glob.glob(os.path.join(jars, "scala-reflect-*.jar"))))
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={build_dir}", "-cp", scalac, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"),
         "@" + args_file], capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    classes = build(root, build_dir)
    t_start = time.time()

    work = os.path.join(build_dir, f"run-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    g0 = time.perf_counter()
    sizes = gen.generate(data, a.seed, **PROFILES[a.workload])
    gen_s = time.perf_counter() - g0
    for t, (rows, nbytes) in sorted(sizes.items()):
        print(f"input {t}: {rows} rows, {nbytes} bytes")

    raw = os.path.join(work, "record.json")
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{os.path.join(spark_jars(), '*')}",
              "perfbench.Main", "--workload", a.workload, "--data", data,
              "--work", work, "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--seed", str(a.seed),
              "--rows", ",".join(f"{t}={r}" for t, (r, _) in sizes.items()),
              "--out", raw])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                               timeout=DEADLINE_S - (time.time() - t_start))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(raw):
        sys.stderr.write(open(log).read()[-6000:])
        fail(f"harness JVM failed ({code})")
    rec = json.load(open(raw))

    errors = list(rec["errors"])
    checked = oracle.compare(data, rec["oracle"], os.path.join(work, "tmp"))
    bad_ops = {name for name, ok, _ in checked if not ok}
    for name, ok, msg in checked:
        print(f"oracle {name}: {'PASS' if ok else 'FAIL'} {msg}")
        if not ok:
            errors.append(f"{name}: oracle mismatch: {msg}")
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"] or o["op"] in bad_ops)
    for e in errors:
        print(f"error: {e}")

    m, stamps = metrics.end_to_end(rec, gen_s)
    print(f"stamp: tail percentile p{stamps['tail_percentile']} with "
          f"{stamps['tail_samples_beyond']} samples beyond, of "
          f"{stamps['samples']} op samples in {stamps['passes']} passes")
    if a.trace:
        modules = metrics.module_map(os.path.join(root, "src/main/scala/graft"))
        m = metrics.per_layer(rec, modules, stored_ratio(work, data))
        spans = os.path.join(build_dir, f"spans-{a.workload}.json")
        with open(spans, "w") as fh:
            json.dump(rec["trace"]["spans"], fh)
        print(f"spans: {spans}")
    for k, (v, u) in m.items():
        print(f"metric {k} = {v:.6g} {u}")
    print(f"phases: gen {gen_s:.2f} s, jvm boot {rec['jvm_boot_s']:.2f} s, "
          f"set-ups {', '.join(f'{x:.2f}' for x in rec['setup_reps_s'])} s, "
          f"warm-up+checks {rec['warmup_s']:.2f} s, window {rec['window_s']:.2f} s")
    shutil.copy(raw, os.path.join(build_dir, f"record-{a.workload}.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": not errors, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


def stored_ratio(work, data):
    """Bytes under the snapshot base, which holds the whole corpus by the
    end of the run, per input byte of documents.parquet (curate_ingest;
    0 elsewhere)."""
    base = os.path.join(work, "curate", "base")
    if not os.path.isdir(base):
        return 0.0
    stored = sum(os.path.getsize(os.path.join(d, f))
                 for d, _, fs in os.walk(base) for f in fs)
    return stored / os.path.getsize(os.path.join(data, "documents.parquet"))


if __name__ == "__main__":
    main()
