"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/scala) with the Scala compiler
that ships in Spark's jar directory. No sbt, no network.

Outputs go under the build directory ($CARGO_TARGET_DIR, else
.bench_build) of the checkout, keyed by a hash of the sources, so an
unchanged tree is compiled once.

    python3 perfbench/build.py        # prints the runtime classpath
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the program's build.sbt compiles against."""
    candidates = [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                     f.read())
    for d in candidates:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_tree(name, files, classpath, stamp):
    """Compiles `files` into <build>/<name>-<stamp>, unless already there."""
    out = os.path.join(build_dir(), f"{name}-{stamp}")
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(build_dir(), f"{name}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {name}: {len(files)} files", file=sys.stderr)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compiling {name} failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    return out


def build():
    """Returns the runtime classpath: program classes, benchmark classes,
    Spark's jars."""
    program = sources(PROGRAM_SRC)
    if not program:
        raise BuildError(f"no program sources under {PROGRAM_SRC}")
    jars = os.path.join(spark_jars(), "*")
    prog_out = compile_tree("program", program, jars, digest(program))
    bench = sources(BENCH_SRC)
    bench_out = compile_tree("bench", bench, os.pathsep.join([prog_out, jars]),
                             digest(bench, prog_out))
    return os.pathsep.join([prog_out, bench_out, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build error: {e}", file=sys.stderr)
        sys.exit(2)
