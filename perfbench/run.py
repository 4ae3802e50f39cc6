#!/usr/bin/env python3
"""Batch-module benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the repository root. Builds the engine and the benchmark from
source with the Scala compiler that ships in Spark's jars (cached under
.perfbench/ by a hash of the sources), generates the fixed synthetic
dataset, derives the expected result of every query it runs from the
engine's DuckDB oracles (both cached per dataset), then runs one workload
in one JVM and prints its result as the last line of stdout:

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones and
writes the spans to .perfbench/spans-<workload>.tsv. Workloads, metrics and
the layer map are described in perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on the PATH is in."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
sys.path.insert(0, HERE)

WORKLOADS = ("nightly_chain", "control_plane", "query_sweep")
# scale factor of the dataset each workload reads; control_plane reads none
SCALE = {"nightly_chain": 0.01, "control_plane": 0.01, "query_sweep": 0.01}
SETUP_REPEATS = {"nightly_chain": 2, "control_plane": 3, "query_sweep": 2}
DATA_SEED = 42          # the dataset is fixed; --seed varies the workload
JVM_TIMEOUT_S = 170
JVM_OPTS = ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def jars():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def build():
    """Compile engine + benchmark into .perfbench/build-<hash>/classes."""
    main, bench = sources()
    if not main:
        sys.exit("perfbench: no engine sources under src/main/scala; run from a full checkout")
    if not jars():
        sys.exit(f"perfbench: no Spark jars under {SPARK_JARS}; set SPARK_HOME")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(WORK, f"build-{h.hexdigest()[:16]}")
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    for old in glob.glob(os.path.join(WORK, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(jars())
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes, "-classpath", cp] + main + bench) + "\n")
    log(f"compiling {len(main)} engine + {len(bench)} benchmark sources")
    t0 = time.time()
    rc = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
                         "-cp", cp, "scala.tools.nsc.Main", "@" + argfile],
                        stdout=sys.stderr).returncode
    if rc != 0:
        sys.exit(f"perfbench: compilation failed ({rc})")
    log(f"compiled in {time.time() - t0:.0f} s")
    open(os.path.join(out, "ok"), "w").close()
    return classes


def dataset(sf, copies):
    """The fixed dataset at `sf`, plus `copies` identical copies under
    distinct paths (one per set-up repeat)."""
    import datagen
    base = os.path.join(WORK, f"data-sf{sf}")
    if not os.path.exists(os.path.join(base, "ok")):
        shutil.rmtree(base, ignore_errors=True)
        datagen.generate(os.path.join(base, "tables"), sf, DATA_SEED)
        open(os.path.join(base, "ok"), "w").close()
    dirs = []
    for i in range(copies):
        d = os.path.join(base, f"copy{i}")
        if not os.path.exists(os.path.join(d, "ok")):
            shutil.rmtree(d, ignore_errors=True)
            shutil.copytree(os.path.join(base, "tables"), d)
            open(os.path.join(d, "ok"), "w").close()
        dirs.append(d)
    return os.path.join(base, "tables"), dirs


def jvm(classes, args, tmp, stdout=sys.stderr):
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources")] + jars())
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                                  "graft.perfbench.Main"] + args)
    env = dict(os.environ, SPARK_SCALA_VERSION="2.13", SPARK_LOCAL_DIRS=tmp)
    p = subprocess.Popen(cmd, stdout=stdout, stderr=sys.stderr, env=env)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def expected(classes, sf):
    """Expected (rows, fingerprint) of every query the workloads run, from
    the DuckDB oracles; cached beside the build that named the queries."""
    import oracle
    tables, _ = dataset(sf, 0)
    path = os.path.join(os.path.dirname(classes), f"expected-sf{sf}.tsv")
    if os.path.exists(path):
        return path
    work = os.path.join(os.path.dirname(classes), f"oracle-sf{sf}")
    shutil.rmtree(work, ignore_errors=True)
    rc = jvm(classes, ["--mode", "oracle-sql", "--data", tables, "--work", work],
             os.path.join(work, "tmp"))
    if rc != 0:
        sys.exit(f"perfbench: oracle SQL dump failed ({rc})")
    got = oracle.expected(tables, os.path.join(work, "oracle"))
    with open(path + ".part", "w") as fh:
        for q, (rows, fp) in sorted(got.items()):
            fh.write(f"{q}\t{rows}\t{fp}\n")
    os.replace(path + ".part", path)
    shutil.rmtree(work, ignore_errors=True)
    return path


def run_workload(a):
    classes = build()
    sf = SCALE[a.workload]
    exp = expected(classes, sf)
    _, copies = dataset(sf, SETUP_REPEATS[a.workload])
    run = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    out = os.path.join(run, "result.json")
    spans = os.path.join(WORK, f"spans-{a.workload}.tsv")
    rc = jvm(classes, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--data", ",".join(copies), "--work", os.path.join(run, "work"),
                       "--expected", exp, "--out", out, "--spans", spans],
             os.path.join(run, "tmp"))
    ok = rc == 0 and os.path.exists(out)
    if ok:
        with open(out) as fh:
            result = json.load(fh)
    shutil.rmtree(run, ignore_errors=True)
    if not ok:
        sys.exit(f"perfbench: workload JVM failed ({rc})")
    print(json.dumps(result))


def selfcheck():
    classes = build()
    sf = 0.001
    exp = expected(classes, sf)
    tables, _ = dataset(sf, 0)
    work = os.path.join(WORK, f"selfcheck-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    rc = jvm(classes, ["--mode", "selfcheck", "--data", tables, "--work", work,
                       "--expected", exp], os.path.join(work, "tmp"), stdout=sys.stdout)
    shutil.rmtree(work, ignore_errors=True)
    return rc


def main():
    # a terminated benchmark unwinds, so the JVM it started is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        sys.exit(selfcheck())
    if not a.workload:
        ap.error("--workload is required")
    run_workload(a)


if __name__ == "__main__":
    main()
