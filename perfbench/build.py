#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the benchmark's own sources (perfbench/src) into one class directory with
the Scala compiler that ships among the Spark jars the sbt build uses
(`unmanagedBase` in build.sbt).

Usage: python3 perfbench/build.py [build_dir]      (default .bench_build)

Run from the repository root. The build is skipped when the sources are
unchanged since the last successful build (a content hash is kept next to
the classes). Exits non-zero, printing the compiler's errors, when the
library sources are missing or do not compile.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def _sbt():
    try:
        return open("build.sbt").read()
    except OSError:
        sys.exit("build: no build.sbt (run from the repository root)")


def add_opens():
    """the --add-opens flags build.sbt gives forked JVMs (jdk17AddOpens)"""
    return [f"--add-opens={p}=ALL-UNNAMED"
            for p in re.findall(r'"(java\.base/[^"]+)"', _sbt())]


def classpath():
    """the jar directory build.sbt names, as a java class path"""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _sbt())
    if not m or not os.path.isdir(m.group(1)):
        sys.exit("build: build.sbt names no existing unmanagedBase jar directory")
    return os.path.join(m.group(1), "*")


def build(build_dir=".bench_build"):
    """Compile if needed; returns the class directory."""
    lib = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not lib:
        sys.exit("build: no library sources under src/main/scala "
                 "(run from the repository root)")
    cp = classpath()
    h = hashlib.sha256()
    for f in lib + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(lib + own) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", cp, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        sys.exit(f"build: scalac failed with exit code {res.returncode}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build(*sys.argv[1:]))
