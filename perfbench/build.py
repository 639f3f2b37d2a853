"""Build file of the benchmark: compiles the program and the benchmark.

Two stages, each cached under `.bench_build/` by a hash of its inputs:

1. the program's sources (`src/main/scala`) into `main/`;
2. the benchmark's own sources (`perfbench/src`) into `bench/`, against
   the classes of stage 1.

The compiler is the `scala-compiler` jar that ships with Spark, found
through the program's own build file (`unmanagedBase := file(...)` in
`build.sbt`) or `$SPARK_HOME/jars`. No sbt, no downloads.
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
# a source the benchmark cannot run without: its absence means the
# checkout holds no program
PROGRAM_MARKER = os.path.join(MAIN_SRC, "graft", "MarketDbApi.scala")


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars the program compiles and runs against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _compile(files, dest, classpath, jars, key):
    stamp = os.path.join(dest, ".stamp")
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, os.path.basename(dest) + ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError("scalac failed for " + os.path.basename(dest))
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(key)
    os.rename(tmp, dest)


def build():
    """Compile what changed; return the run-time classpath."""
    if not os.path.isfile(PROGRAM_MARKER):
        raise BuildError("program sources not found under src/main/scala")
    main_files, bench_files = _sources(MAIN_SRC), _sources(BENCH_SRC)
    if not bench_files:
        raise BuildError("benchmark sources not found under perfbench/src")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    jar_cp = os.path.join(jars, "*")
    main_key = _digest(main_files, jars)
    main_out = os.path.join(OUT, "main")
    _compile(main_files, main_out, jar_cp, jars, main_key)
    bench_out = os.path.join(OUT, "bench")
    _compile(bench_files, bench_out, main_out + os.pathsep + jar_cp, jars,
             _digest(bench_files, main_key))
    return os.pathsep.join([bench_out, main_out, jar_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit("build: %s" % e)
