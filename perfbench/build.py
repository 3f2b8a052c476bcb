#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the library (src/main/scala of the repository) together with the
benchmark sources (perfbench/src) with the Scala compiler that ships with
Spark ($SPARK_HOME/jars, or the installation of spark-submit on PATH), into
.bench_build/perfbench/classes, packs them into bench.jar, and archives the
classes a run loads at start (graftbench.Prime) for class-data sharing, which
halves session start. Sources are fingerprinted, so an unchanged tree is not
rebuilt.

    python3 perfbench/build.py          # build
    python3 perfbench/build.py test     # build, then run the benchmark's own tests

Run from the repository root.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, or next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not lib:
        raise SystemExit("perfbench: src/main/scala not found; run from the repository root")
    if not bench:
        raise SystemExit("perfbench: perfbench/src not found")
    return lib + bench


def jvm_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file under the system temp dir: the run writes only
    # inside the checkout
    # JVM warnings (class-data sharing among them) go to stderr: standard
    # output carries only the result line
    return flags + ["-XX:-UsePerfData", "-Dspark.ui.enabled=false",
                    "-Dspark.sql.session.timeZone=UTC", "-Xlog:disable", "-Xlog:all=warning:stderr"]


def archive_flags(root):
    """Use the class-data archive when the build made one."""
    jsa = os.path.join(root, ".bench_build", "perfbench", "classes.jsa")
    return [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []


def build(root):
    """Compile if the sources changed; return the classpath to run with."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(s.encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "bench.jar")
    jsa = os.path.join(out, "classes.jsa")
    stamp = os.path.join(out, "stamp")
    jars = spark_jars()
    # a jar, not the class directory: class-data sharing archives only jars
    cp = f"{jar}{os.pathsep}{jars}"
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    for p in (stamp, jar, jsa):
        if os.path.exists(p):
            os.remove(p)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, classes))
    prime = os.path.join(out, "prime")
    shutil.rmtree(prime, ignore_errors=True)
    os.makedirs(os.path.join(prime, "tmp"))
    r = subprocess.run(["java", "-Xmx1g", "-XX:TieredStopAtLevel=1", f"-XX:ArchiveClassesAtExit={jsa}",
                        f"-Djava.io.tmpdir={os.path.join(prime, 'tmp')}", "-cp", cp] + jvm_flags() +
                       ["graftbench.Prime", prime], cwd=prime, capture_output=True, text=True)
    shutil.rmtree(prime, ignore_errors=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit(f"perfbench: class-data priming failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp


def main():
    root = os.getcwd()
    cp = build(root)
    if sys.argv[1:] == ["test"]:
        r = subprocess.run(["java", "-Xmx512m", "-cp", cp] + jvm_flags() + archive_flags(root) +
                           ["graftbench.SelfTest"])
        sys.exit(r.returncode)


if __name__ == "__main__":
    main()
