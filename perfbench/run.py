#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --derive <bench record json>

Run from the repository root. The first run compiles src/main/scala and
perfbench/src with the Scala compiler shipped in the Spark distribution
(no build tool); later runs reuse the classes until a source changes.
The last line of stdout is the run's JSON result.
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
import zipfile

BENCH_DIR = "perfbench"
SCALA = "2.13.17"
RUN_TIMEOUT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt's unmanagedBase names."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = open("build.sbt").read() if os.path.isfile("build.sbt") else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            fail("set SPARK_HOME (build.sbt names no unmanagedBase)")
        jars = m.group(1)
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        fail(f"no Scala {SCALA} compiler under {jars}")
    return jars


def driver_mem():
    """Half the host's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(jars, files, classpath, out):
    """scalac `files` into `out`, rebuilding only when a source changed."""
    mark = os.path.join(out, ".stamp")
    want = stamp(files + classpath_stamps(classpath))
    if os.path.isfile(mark) and open(mark).read() == want:
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    compiler_cp = os.pathsep.join(
        os.path.join(jars, f"scala-{p}-{SCALA}.jar") for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4",
           "-classpath", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
           "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(files)} files into {out}", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        fail(f"compilation failed ({r.returncode})")
    os.remove(argfile)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def classpath_stamps(classpath):
    return [os.path.join(c, ".stamp") for c in classpath if os.path.isfile(os.path.join(c, ".stamp"))]


def jar(classes, path):
    """Zip a class tree into a jar (class-data sharing needs jars)."""
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                if f.endswith(".class"):
                    full = os.path.join(d, f)
                    z.write(full, os.path.relpath(full, classes))
    os.replace(tmp, path)


def build(jars):
    """Compile graft and the benchmark, jar them, and train a class-data
    sharing archive (JVM + Spark class loading is most of a cold start)."""
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("src/main/scala/graft not found: run from the root of a graft checkout")
    out = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    graft_cls = os.path.join(out, "graft-classes")
    bench_cls = os.path.join(out, "bench-classes")
    os.makedirs(out, exist_ok=True)
    compile_tree(jars, sources(os.path.join("src", "main", "scala")), [], graft_cls)
    compile_tree(jars, sources(os.path.join(BENCH_DIR, "src")), [graft_cls], bench_cls)
    classpath = [os.path.join(out, "graft.jar"), os.path.join(out, "bench.jar"), os.path.join(jars, "*")]
    archive = os.path.join(out, "classes.jsa")
    want = stamp(classpath_stamps([graft_cls, bench_cls]))
    mark = archive + ".stamp"
    if not (os.path.isfile(mark) and open(mark).read() == want):
        for f in (archive, mark):
            if os.path.exists(f):
                os.remove(f)
        jar(graft_cls, classpath[0])
        jar(bench_cls, classpath[1])
        print("[perfbench] training the class-data sharing archive", file=sys.stderr)
        r = java(classpath, [f"-XX:ArchiveClassesAtExit={archive}"], ["--mode", "train"], "train", None)
        if r.returncode != 0 or not os.path.isfile(archive):
            fail("class-data sharing archive training failed")
        with open(mark, "w") as f:
            f.write(want)
    return classpath, archive


def java(classpath, jvm_opts, main_args, tag, timeout):
    """Run graftbench.Main with the run's JVM settings; stdout is captured."""
    run_dir = os.path.abspath(os.path.join(".bench_run", f"{tag}-{os.getpid()}"))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=error:stderr"] + jvm_opts
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.abspath(os.path.join(BENCH_DIR, 'log4j2.properties'))}",
              "-cp", os.pathsep.join(classpath),
              "graftbench.Main", "--bench-dir", BENCH_DIR, "--run-dir", os.path.join(run_dir, "work")]
           + main_args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(".bench_run")
        except OSError:
            pass
    return subprocess.CompletedProcess(cmd, proc.returncode, out, None)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--derive", metavar="RECORD")
    a = ap.parse_args()
    if not (a.workload or a.selftest or a.derive):
        fail("one of --workload, --selftest or --derive is required")

    jars = spark_jars()
    classpath, archive = build(jars)
    if a.selftest:
        args = ["--mode", "selftest"]
    elif a.derive:
        args = ["--mode", "derive", "--record", os.path.abspath(a.derive)]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    r = java(classpath, [f"-XX:SharedArchiveFile={archive}"], args, a.workload or "aux",
             RUN_TIMEOUT_S if a.workload else None)
    out = r.stdout
    lines = out.rstrip("\n").split("\n") if out else []
    for line in lines[:-1]:
        print(line)
    if a.workload:
        if not lines:
            fail("the run printed no result")
        try:
            json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
            fail("the last line of the run is not a JSON result")
    if lines:
        print(lines[-1])
    sys.exit(r.returncode)


if __name__ == "__main__":
    main()
