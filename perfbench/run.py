#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the engine. The first call builds the
engine and the benchmark from source with sbt (perfbench/build.sbt) and a
class-data archive for the JVM (see class_data); later calls reuse both
while no source file changed. The measurement runs in one JVM on local[N],
N = the cores this process may use. The last line of
stdout is one JSON object; everything else on stdout starts with '#'.
Exits non-zero, without a result line, when the engine sources are missing,
the build fails, the run fails or it exceeds its time limit.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
TARGET = os.path.join(BENCH, "target")
CDS = os.path.join(TARGET, "cds")
GEN = os.path.join(BENCH, "gen.py")
WORKLOADS = ("read_mix", "ingest_dml")
RUN_LIMIT_S = 170          # the whole run, build excluded
BUILD_LIMIT_S = 500        # sbt; with the archive and the run inside the 900 s
TRAIN_LIMIT_S = 200        # the class-data archive's training run
HEAP = "3g"

# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to its forked runs), bounded auxiliary JVM
# thread pools, and a heap touched in full at start-up, so that no timed op
# pays for first touches of fresh heap pages.
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1", "-XX:CICompilerCount=2", "-XX:+AlwaysPreTouch",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def read(path):
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        return f.read()


def write(path, text):
    with open(path, "w") as f:
        f.write(text)


def java(classpath, *flags):
    return ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *JVM_OPTS, *flags, "-cp", classpath]


def jvm_env():
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)   # would override the work-dir spark.local.dir
    return env


def source_stamp():
    """Digest of every file the build reads; a change forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    singles = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    files = [f for f in singles if os.path.isfile(f)]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return the
    classpath and the source stamp."""
    cp_file = os.path.join(TARGET, "classpath.txt")
    stamp_file = os.path.join(TARGET, "classpath.stamp")
    stamp = source_stamp()
    if read(stamp_file) == stamp and read(cp_file):
        return read(cp_file).strip(), stamp
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                           cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                           timeout=BUILD_LIMIT_S, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout)
        die(f"build failed (sbt exit {p.returncode})", 3)
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    write(cp_file, cp)
    write(stamp_file, stamp)
    return cp, stamp


def class_data(classpath, stamp):
    """The classpath and JVM flags every run uses.

    Once per build, this jars the classpath's class directories and dumps a
    class-data-sharing archive of the classes a short run of every workload
    loads (perfbench.Train). Mapping that archive instead of loading some
    10k Spark and engine classes one by one saves about 7 s of start-up and
    first-call time per run on the development host, so that the runs of a
    full measurement fit their time budget. CDS takes classes from jar files
    only, hence the jars. Both commits of a comparison build their own
    archive the same way. If the training run fails, runs go without an
    archive."""
    archive = os.path.join(CDS, "app.jsa")
    entries = classpath.split(os.pathsep)
    jars = [os.path.join(CDS, f"classes-{i}.jar") if os.path.isdir(p) else p for i, p in enumerate(entries)]
    jar_cp = os.pathsep.join(jars)
    flags = lambda: [f"-XX:SharedArchiveFile={archive}"] if os.path.isfile(archive) else []
    if read(os.path.join(CDS, "stamp")) == stamp:
        return jar_cp, flags()
    print("perfbench: building the class-data archive", file=sys.stderr)
    shutil.rmtree(CDS, ignore_errors=True)
    os.makedirs(CDS)
    for d, j in zip(entries, jars):
        if d != j:
            with zipfile.ZipFile(j, "w", zipfile.ZIP_STORED) as z:
                for sub, _, names in os.walk(d):
                    for n in sorted(names):
                        f = os.path.join(sub, n)
                        z.write(f, os.path.relpath(f, d))
    train = os.path.join(CDS, "train")
    args = []
    for w in WORKLOADS:
        d = os.path.join(train, w)
        subprocess.run([sys.executable, GEN, "--workload", w, "--seed", "0", "--seconds", "1",
                        "--out", os.path.join(d, "data", "in")], check=True,
                       stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
        args += [w, d]
    dump = archive + ".tmp"     # renamed only once the training run ended well
    with open(os.path.join(CDS, "train.log"), "w") as log:
        try:
            p = subprocess.run(java(jar_cp, f"-XX:ArchiveClassesAtExit={dump}") + ["perfbench.Train", *args],
                               cwd=ROOT, env=jvm_env(), stdout=log, stderr=log, stdin=subprocess.DEVNULL,
                               timeout=TRAIN_LIMIT_S)
            if p.returncode == 0 and os.path.isfile(dump):
                os.replace(dump, archive)
        except subprocess.TimeoutExpired:
            pass
    shutil.rmtree(train, ignore_errors=True)
    if os.path.exists(dump):
        os.remove(dump)
    if not os.path.isfile(archive):
        print(f"perfbench: no class-data archive, see {CDS}/train.log", file=sys.stderr)
    write(os.path.join(CDS, "stamp"), stamp)
    return jar_cp, flags()


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        die("run from the root of an engine checkout (src/main/scala/graft and build.sbt not found)")
    classpath, flags = class_data(*build())

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = java(classpath, *flags) + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--spans", os.path.join(TARGET, "traces", f"{a.workload}-{a.seed}.jsonl")]
    t0 = time.monotonic()
    gen = subprocess.run([sys.executable, GEN, "--workload", a.workload,
                          "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--out", os.path.join(work, "data", "in")],
                         stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=RUN_LIMIT_S)
    if gen.returncode != 0:
        shutil.rmtree(work, ignore_errors=True)
        die(f"input generator exited {gen.returncode}", 5)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - t0)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_LIMIT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        die(f"benchmark JVM exited {proc.returncode}", 5)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        sys.stderr.write(out)
        die("benchmark JVM printed no result line", 5)
    for l in lines[:-1]:
        print(l)
    print(f"# wall_s={time.monotonic() - t0:.1f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
